from __future__ import annotations

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
    brute_force_topk,
    bucketed_ann_topk,
)


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite bucket of 0
        (4, [0.8, 0.2, 0.1, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_ranks_by_cosine(spark):
    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    got = brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [1, 4]
    assert got[0].rank == 1 and got[0].cos_r > got[1].cos_r


def _one_bit_buckets(monkeypatch) -> list[int]:
    """Force the sign-bucket width to 1 bit through adaptive_nbits, the
    operators' one decision point; returns the corpus sizes it saw."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )

    seen = []

    def one_bit(n_rows, *_a, **_k):
        seen.append(n_rows)
        return 1

    monkeypatch.setattr(similarity, "adaptive_nbits", one_bit)
    return seen


def test_bucketed_ann_excludes_other_buckets(spark, monkeypatch):
    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    seen = _one_bit_buckets(monkeypatch)
    got = bucketed_ann_topk(emb, q, k=4, multi_probe=0).collect()
    assert seen == [5]
    ids = {r.vec_id for r in got}
    assert 3 not in ids  # negative first dim → different bucket
    assert 1 in ids


def test_bucketed_ann_multi_probe_reaches_hamming1_bucket(spark, monkeypatch):
    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    seen = _one_bit_buckets(monkeypatch)
    got = bucketed_ann_topk(emb, q, k=4, multi_probe=1).collect()
    assert seen == [5]
    ids = {r.vec_id for r in got}
    assert 3 in ids  # one flipped sign bit away — probed


def test_adaptive_nbits_grows_with_corpus():
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        adaptive_nbits,
    )

    assert adaptive_nbits(10) == 4  # floor
    assert adaptive_nbits(500) == 5
    assert adaptive_nbits(5000) == 9
    assert adaptive_nbits(5_000_000) == 19
    assert adaptive_nbits(10**12) == 24  # ceiling (≤ embedding dim)


def test_ann_recall_vs_brute_force_sf001(spark):
    """Recall gate at sf0.01 (500 isotropic random 64-dim vectors — the
    hardest case for sign LSH: cosine-to-bucket correlation is weakest
    on directionless data). Multi-probe must strictly lift recall, and
    the probed recall floor is pinned so regressions in the bucket or
    probe logic surface here."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=3, dim=64).collect()}
    recalls = {}
    for mp in (0, 1):
        ann = {
            (r.query_id, r.vec_id)
            for r in bucketed_ann_topk(emb, q, k=3, multi_probe=mp).collect()
        }
        recalls[mp] = len(ann & bf) / len(bf)
    assert recalls[1] > recalls[0]
    assert recalls[1] >= 0.35
    # OR-amplified banded tables beat single-table multi-probe
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        banded_ann_topk,
    )

    banded = {
        (r.query_id, r.vec_id)
        for r in banded_ann_topk(emb, q, k=3, n_tables=4, dim=64).collect()
    }
    banded_recall = len(banded & bf) / len(bf)
    assert banded_recall > recalls[1]
    assert banded_recall >= 0.5


def test_ivf_topk_recall_and_plan(spark):
    """IVF-flat: planted-cluster recall is exact (same-cluster vectors
    land in the same inverted list by construction), assignment stays
    map-only (no Exchange feeds the probe join's corpus side), and the
    probe join broadcasts the query side."""
    import random

    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
        physical_plan,
    )

    random.seed(3)
    # 8 well-separated cluster directions, 25 vectors each
    base = [[random.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    vid = 0
    for c, b in enumerate(base):
        for _ in range(25):
            rows.append((vid, [v * 10 + random.gauss(0, 0.1) for v in b]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 25 == 7)
    out = ivf_topk(emb, q, k=3, n_centroids=8, nprobe=2, dim=16)
    plan = physical_plan(out)
    assert "BroadcastHashJoin" in plan
    bf = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=3, dim=16).collect()}
    ivf = {(r.query_id, r.vec_id) for r in out.collect()}
    assert len(ivf & bf) / len(bf) == 1.0  # clustered data: exact recall
    # isotropic sf0.01 corpus: recall floor with 16 lists / 4 probes
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables import (
        load_table,
    )

    emb01 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q01 = emb01.filter(F.col("vec_id") < 5)
    bf01 = {(r.query_id, r.vec_id) for r in brute_force_topk(emb01, q01, k=3, dim=64).collect()}
    ivf01 = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb01, q01, k=3, n_centroids=16, nprobe=4, dim=64).collect()
    }
    assert len(ivf01 & bf01) / len(bf01) >= 0.5

def test_label_centroids_default_scales_ordered_matches(spark):
    """VERDICT r2 #3: the default label_centroids path must be the
    tree-aggregated F.sum (no per-cell collect_list buffer — the
    ordered fold holds every class member's value in one aggregation
    buffer, a multi-GB reducer at 10^9 vectors/class); the ordered
    fold is retained only as the oracle-parity twin. The two paths
    must agree to <=1e-9 on real data."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        label_centroids,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
        physical_plan,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    fast = label_centroids(emb)  # default: ordered=False
    slow = label_centroids(emb, ordered=True)
    assert "collect_list" not in physical_plan(fast)
    assert "collect_list" in physical_plan(slow)
    joined = (
        fast.alias("f")
        .join(slow.alias("s"), ["label", "pos"])
        .select(F.max(F.abs(F.col("f.m") - F.col("s.m"))).alias("mx"))
        .collect()[0]
    )
    assert joined.mx <= 1e-9
    assert fast.count() == slow.count() == 640  # 10 labels x 64 dims


def test_embedding_near_dup_planted_recall(spark):
    """VERDICT r2 #4: the oracle row for embedding_near_dup used to be
    vacuous (0.9 cut on isotropic data -> empty set on both engines).
    This pins the pair logic itself: plant 3 near-identical vector
    pairs (cos > 0.99) in 100 random vectors and require the blocked
    pipeline to recover exactly those pairs at the production 0.9
    threshold."""
    import random

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    random.seed(7)
    rows = []
    for vid in range(100):
        rows.append((vid, [random.gauss(0, 1) for _ in range(16)]))
    planted = set()
    for k in range(3):
        orig_id, dup_id = k, 100 + k
        orig = rows[orig_id][1]
        rows.append((dup_id, [v + random.gauss(0, 0.01) for v in orig]))
        planted.add((orig_id, dup_id))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert planted <= got
    # no random pair should clear 0.9: recovered set == planted set
    assert got == planted


def test_ivf_centroids_hash_stratified_not_id_correlated(spark):
    """VERDICT r2 #5: on a corpus where vec_id order correlates with
    cluster (ids 0-199 all cluster A, 200-399 all cluster B — the shape
    real ingest produces), the old lowest-id pick put EVERY centroid in
    cluster A; the md5-stratified pick must sample both id halves, and
    inverted lists must not collapse onto a single centroid."""
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
        ivf_topk,
    )

    random.seed(11)
    a = [random.gauss(0, 1) for _ in range(16)]
    b = [-v for v in a]
    rows = []
    for vid in range(400):
        base = a if vid < 200 else b
        rows.append((vid, [v * 10 + random.gauss(0, 0.5) for v in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = ivf_centroid_rows(emb, 8)
    ids = [cid for cid, _ in cent]
    assert ids != sorted(ids)[:8] or max(ids) >= 200  # not the 8 lowest ids
    assert any(cid < 200 for cid in ids) and any(cid >= 200 for cid in ids)
    # every query must find same-cluster neighbors (lists span clusters)
    q = emb.filter(F.col("vec_id").isin(0, 399))
    got = ivf_topk(emb, q, k=3, n_centroids=8, nprobe=2, dim=16, centroids=cent).collect()
    by_q = Counter(r.query_id for r in got)
    assert by_q[0] == 3 and by_q[399] == 3
    for r in got:
        same = (r.query_id < 200) == (r.vec_id < 200)
        assert same  # neighbors come from the query's own cluster


def test_int8_quantization_error_bound(spark):
    """Dequantized components must sit within scale/2 = max|x|/254 of
    the original (the defining property of symmetric round-to-nearest
    quantization), and codes must stay in [-127, 127]."""
    import pyspark.sql.functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
        int8_quantize,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    v = as_double_array(F.col("embedding"))
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    q = int8_quantize(v)
    checked = emb.select(
        amax.alias("amax"),
        F.array_max(F.transform(q, F.abs)).alias("qmax"),
        F.array_max(
            F.zip_with(v, q, lambda x, c: F.abs(x - c * (amax / 127.0)))
        ).alias("err"),
    )
    for r in checked.collect():
        assert r.qmax <= 127
        assert r.err <= r.amax / 254.0 + 1e-12


def test_quantized_topk_recall_vs_exact(spark):
    """int8 codes must preserve the exact float top-3 almost entirely
    (measured 0.93 recall@3 at sf0.001/sf0.01 on isotropic vectors —
    floor pinned below that with margin)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    exact = {(r.query_id, r.vec_id) for r in qs["cosine_topk"](spark, sf).collect()}
    quant = {
        (r.query_id, r.vec_id)
        for r in qs["quantized_cosine_topk"](spark, sf).collect()
    }
    assert len(exact & quant) / len(exact) >= 0.8


def _pairs(df):
    return sorted(
        (r.key_a, r.key_b, r.n_shared, r.sz_a, r.sz_b) for r in df.collect()
    )


def _sets_fixture(spark):
    """Adversarial set table: a hot item (0) shared by every key — the
    single-join m² case and the prefix filter's reason to exist — a
    NULL item on key 10 (counts toward sz, never intersects), and
    size-spread keys the ratio prune must not mis-drop at equality."""
    rows = []
    for k in range(12):
        items = {0} | {(k * 7 + j) % 64 for j in range(1, 5 + (k % 4))}
        rows += [(k, i) for i in sorted(items)]
    rows.append((10, None))
    rows.append((11, 63))
    return spark.createDataFrame(rows, "key long, item long")


def test_set_similarity_join_three_paths_identical(spark, exact_route):
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
    )

    sets = _sets_fixture(spark)
    got = {}
    for route in ("single", "prefix"):
        asked = exact_route(route)
        got[route] = _pairs(set_similarity_join(sets, "key", "item", 3, 10))
        assert len(asked) == 1
    got_prefix = got["prefix"]
    got_bitmap = _pairs(
        set_similarity_join(
            sets, "key", "item", 3, 10, dense_bitmap_domain=64
        )
    )
    assert got["single"] == got_prefix == got_bitmap
    assert len(got_prefix) > 0

    # ground truth by hand: NULL counts toward sz but never intersects
    py_sets = {}
    py_sz = {}
    for r in sets.collect():
        py_sz[r.key] = py_sz.get(r.key, 0) + 1
        if r.item is not None:
            py_sets.setdefault(r.key, set()).add(r.item)
    expect = []
    keys = sorted(py_sz)
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            inter = len(py_sets.get(a, set()) & py_sets.get(b, set()))
            union = py_sz[a] + py_sz[b] - inter
            if 10 * inter >= 3 * union:
                expect.append((a, b, inter, py_sz[a], py_sz[b]))
    assert got_prefix == sorted(expect)


def test_set_similarity_join_threshold_boundary_exact(spark, exact_route):
    """Integer cross-multiplication must keep a pair at exactly
    J = num/den (3/10 here: |∩|=3, |∪|=10) on every path — the float
    boundary that motivates the integer form."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
    )

    a = {i for i in range(7)}          # sz 7
    b = {0, 1, 2} | {10, 11, 12}       # sz 6, inter 3, union 10
    rows = [(0, i) for i in a] + [(1, i) for i in b]
    sets = spark.createDataFrame(rows, "key long, item long")
    for route in ("single", "prefix"):
        exact_route(route)
        got = _pairs(set_similarity_join(sets, "key", "item", 3, 10))
        assert got == [(0, 1, 3, 7, 6)], route
    got = _pairs(
        set_similarity_join(sets, "key", "item", 3, 10, dense_bitmap_domain=16)
    )
    assert got == [(0, 1, 3, 7, 6)]


def test_ivf_kmeans_codebook_recall_beats_sampled(spark):
    """VERDICT r4 #4: the trained (Lloyd) codebook must not regress
    recall vs the hash-stratified sampled codebook it replaces.
    Measured at sf0.01 (20 queries, k=3, nprobe=4): kmeans 0.90 vs
    sampled 0.65; gate at >=, not the point estimate, to stay robust
    to testdata regeneration."""
    import pyspark.sql.functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    cent_s = ivf_centroid_rows(emb, 16)
    got_s = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            emb, q, k=3, nprobe=4, dim=64, centroids=cent_s
        ).collect()
    }
    vec = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("vec")
    )
    cents, _ = kmeans_fit(vec, k=16, iterations=3)
    cent_k = sorted((int(c), list(v)) for c, v in cents.items())
    got_k = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            emb, q, k=3, nprobe=4, dim=64, centroids=cent_k
        ).collect()
    }
    recall_s = len(truth & got_s) / len(truth)
    recall_k = len(truth & got_k) / len(truth)
    assert recall_k >= recall_s
    assert recall_k >= 0.8  # absolute floor: trained codebook works


def test_ivf_topk_prebuilt_index_identical(spark, tmp_path):
    """Serving from a materialized ivf_assign index (the inverted
    file) returns exactly the inline-assignment result — the round-6
    build/serve split: assignment is charged to index BUILD once per
    corpus state, not k_c sims/vector on every query batch."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
        ivf_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cent = ivf_centroid_rows(emb, 16)
    inline = ivf_topk(
        emb, q, k=3, n_centroids=16, nprobe=4, dim=64, centroids=cent
    )
    idx_path = str(tmp_path / "ivf_index")
    ivf_assign(emb, cent, dim=64).write.parquet(idx_path)
    served = ivf_topk(
        emb, q, k=3, n_centroids=16, nprobe=4, dim=64,
        centroids=cent, assigned=spark.read.parquet(idx_path),
    )
    a = sorted(tuple(r) for r in inline.collect())
    b = sorted(tuple(r) for r in served.collect())
    assert a == b and len(a) > 0


def test_choose_set_similarity_path_rules(monkeypatch):
    """Routing rule unit test (no Spark): small key tables and
    linear-regime candidate bounds stay exact; only a quadratic
    candidate bound over a large key table hands off to LSH."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_set_similarity_path,
    )

    # tiny key table: always exact, however dense
    assert (
        choose_set_similarity_path(
            {"n_keys": 100, "cand_pairs": 1e9, "n_rows": 1000, "max_df": 100}
        )
        == "exact"
    )
    # large but sparse (avg < budget partners/key): exact
    assert (
        choose_set_similarity_path(
            {"n_keys": 10_000, "cand_pairs": 5e4, "n_rows": 1e6, "max_df": 9}
        )
        == "exact"
    )
    # large and dense (the measured Ω(U²) regime): LSH
    assert (
        choose_set_similarity_path(
            {"n_keys": 10_000, "cand_pairs": 5e7, "n_rows": 1e6, "max_df": 9_000}
        )
        == "lsh"
    )
    # cand bound is capped at all-pairs: a single ultra-hot item on a
    # small-ish key table cannot fake a quadratic regime past C(U,2)
    monkeypatch.setattr(similarity, "PAIRS_PER_KEY_BUDGET", 5_000)
    assert (
        choose_set_similarity_path(
            {"n_keys": 5_000, "cand_pairs": 1e12, "n_rows": 1e6, "max_df": 1e6}
        )
        == "exact"
    )
    # the handoff reads the module constants
    monkeypatch.setattr(similarity, "PAIRS_PER_KEY_BUDGET", 1)
    monkeypatch.setattr(similarity, "MIN_LSH_KEYS", 10)
    assert (
        choose_set_similarity_path(
            {"n_keys": 20, "cand_pairs": 190, "n_rows": 100, "max_df": 20}
        )
        == "lsh"
    )


def test_choose_exact_path_rule():
    """Single-join vs prefix rule unit test (no Spark): prefix only
    when the hottest item's key frequency exceeds 4·√n_keys."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_exact_path,
    )

    def route(n_keys, max_df):
        return choose_exact_path(
            {"n_keys": n_keys, "max_df": max_df, "n_rows": 0, "cand_pairs": 0.0}
        )

    assert route(0, 0) == route(1, 1) == "single"
    assert route(100, 40) == "single"  # 4·√100 = 40: not above
    assert route(100, 41) == "prefix"
    # the committed document corpora: 3-gram max_df 9 / 25 at 500 /
    # 5 000 docs stays single
    assert route(500, 9) == route(5_000, 25) == "single"


def test_set_similarity_auto_sparse_equals_exact(spark):
    """Sparse regime: the auto join must be pair-for-pair IDENTICAL to
    the exact join (path selection is a physical choice only below the
    handoff), and must report the exact path."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
        set_similarity_join_auto,
        set_similarity_stats,
    )

    sets = _sets_fixture(spark)
    stats = set_similarity_stats(sets, "key", "item")
    assert stats["n_keys"] == 12
    assert stats["n_rows"] == sets.count()
    assert stats["max_df"] == 12  # hot item 0 in every key
    auto = set_similarity_join_auto(sets, "key", "item", 3, 10)
    assert auto.__setsim_path__ == "exact"
    assert auto.__setsim_meta__["path"] == "exact"
    assert auto.__setsim_meta__["expected_recall_at_threshold"] == 1.0
    exact = set_similarity_join(sets, "key", "item", 3, 10)
    assert _pairs(auto) == _pairs(exact)


def test_set_similarity_lsh_no_false_positives_and_dup_recall(spark):
    """LSH path: every emitted pair must carry the EXACT (n_shared,
    sz_a, sz_b) and satisfy the threshold (verification is exact → no
    false positives); identical sets (J=1, signatures agree on every
    band) are always recovered."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
        set_similarity_join_lsh,
    )

    rows = []
    for k in range(12):
        items = {0} | {(k * 7 + j) % 64 for j in range(1, 5 + (k % 4))}
        rows += [(k, i) for i in sorted(items)]
    # planted exact-duplicate cluster: keys 100..103 share one set
    for k in range(100, 104):
        rows += [(k, i) for i in (1, 2, 3, 4, 5)]
    rows.append((10, None))
    sets = spark.createDataFrame(rows, "key long, item long")
    exact = set(map(tuple, _pairs(set_similarity_join(sets, "key", "item", 3, 10))))
    for domain in (None, 64):
        got = set(
            map(
                tuple,
                _pairs(
                    set_similarity_join_lsh(
                        sets, "key", "item", 3, 10,
                        dense_bitmap_domain=domain,
                    )
                ),
            )
        )
        assert got <= exact, f"false positives (domain={domain}): {got - exact}"
        # the J=1 cluster collides on every band: all 6 pairs found
        dup_pairs = {
            (a, b, 5, 5, 5)
            for a in range(100, 104)
            for b in range(a + 1, 104)
        }
        assert dup_pairs <= got, f"missed exact dups (domain={domain})"


def test_set_similarity_auto_dense_routes_lsh(spark, setsim_handoff):
    """Dense fixture (thresholds tightened to make the small fixture
    'dense'): auto must route to LSH and emit a subset of the exact
    pair set with exact values."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
        set_similarity_join_auto,
    )

    # every key shares most of a tiny item domain: quadratic regime
    rows = [(k, (k + j) % 8) for k in range(24) for j in range(6)]
    sets = spark.createDataFrame(rows, "key long, item long")
    verdicts = setsim_handoff(2, 10)
    auto = set_similarity_join_auto(sets, "key", "item", 1, 2)
    assert verdicts == ["lsh"] and auto.__setsim_path__ == "lsh"
    exact = set(map(tuple, _pairs(set_similarity_join(sets, "key", "item", 1, 2))))
    got = set(map(tuple, _pairs(auto)))
    assert got <= exact
    assert len(got) > 0


def test_ann_recall_floor_at_64x(spark):
    """Recall-vs-scale floor (VERDICT r6 #2): at 64× replication the
    size-adaptive designs must still recover ≥ 0.6 of the brute-force
    top-3. The corpus is perturbed-replicated (rep 0 verbatim, others
    md5-noised near-duplicates — identical copies would be a vacuous
    recall 1.0), so each query's true neighbors are near-duplicates
    that straddle hash planes the way real near-dup corpora do; the
    floor fails if adaptive nbits ever shrinks buckets past the point
    where Hamming-1 probing recovers them, or if IVF lists stop
    co-locating near-duplicates. Exact per-path recall curves live in
    SCALE_PROBE_r7.jsonl (sf0.1); this gate runs the same machinery
    at sf0.001·64."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        banded_ann_topk,
        brute_force_topk,
        bucketed_ann_topk,
        ivf_centroid_rows,
        ivf_topk,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    scaled = perturbed_replicas(emb, 64, noise=0.3).persist()
    queries = scaled.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(scaled, queries, k=3, dim=64).persist()
    bf.count()

    got = {
        "bucketed": recall_against(
            bf, bucketed_ann_topk(scaled, queries, k=3, dim=64, multi_probe=1)
        ),
        "banded": recall_against(
            bf, banded_ann_topk(scaled, queries, k=3, n_tables=4, dim=64)
        ),
    }
    cent = ivf_centroid_rows(scaled, 16)
    got["ivf"] = recall_against(
        bf,
        ivf_topk(
            scaled, queries, k=3, nprobe=4, dim=64, centroids=cent
        ),
    )
    scaled.unpersist()
    bf.unpersist()
    for path, rec in got.items():
        assert rec >= 0.6, (path, got)


def test_choose_lsh_bands_matches_threshold():
    """Band count tracks the threshold's S-curve midpoint: low
    (covisit-style) thresholds get many narrow bands, near-dup
    thresholds get few wide ones."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_bands,
    )

    # k=16 midpoints: 16x1 -> 0.0625, 8x2 -> 0.354, 4x4 -> 0.707,
    # 2x8 -> 0.917, 1x16 -> 1.0
    assert choose_lsh_bands(1, 10, 16) == 16   # J >= 0.1
    assert choose_lsh_bands(3, 10, 16) == 8    # J >= 0.3 (covisit)
    assert choose_lsh_bands(7, 10, 16) == 4    # J >= 0.7
    assert choose_lsh_bands(8, 10, 16) == 4    # 0.8 nearer 0.707 than 0.917
    assert choose_lsh_bands(9, 10, 16) == 2    # J >= 0.9
    # k=8: 8x1 -> 0.125, 4x2 -> 0.5, 2x4 -> 0.841, 1x8 -> 1.0
    assert choose_lsh_bands(4, 5, 8) == 2


def test_set_similarity_lsh_collapse_identical_equality(spark):
    """collapse_identical must be a pure physical choice: pair-set AND
    value equality with the uncollapsed LSH join, on a fixture with a
    4-member identical-set group, an identical pair whose NULL rows
    push it under a high threshold, near-dup cross-group pairs, and
    duplicate (key,item) rows."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join_lsh,
    )

    rows = []
    for k in range(12):
        items = {0} | {(k * 7 + j) % 64 for j in range(1, 5 + (k % 4))}
        rows += [(k, i) for i in sorted(items)]
    for k in range(100, 104):            # identical group, J=1
        rows += [(k, i) for i in (1, 2, 3, 4, 5)]
    for k in (200, 201):                 # identical non-null items...
        rows += [(k, i) for i in (7, 8, 9)]
        rows.append((k, None))           # ...plus a NULL row: J=3/5
    rows.append((201, None))             # 201 has TWO nulls: different
    rows.append((10, None))              # multiset → separate group
    rows.append((300, 42))
    rows.append((300, 42))               # duplicate (key,item) row
    sets = spark.createDataFrame(rows, "key long, item long")
    for domain in (None, 64):
        for thr in ((3, 10), (9, 10)):
            got = _pairs(
                set_similarity_join_lsh(
                    sets, "key", "item", *thr,
                    dense_bitmap_domain=domain, collapse_identical=True,
                )
            )
            want = _pairs(
                set_similarity_join_lsh(
                    sets, "key", "item", *thr,
                    dense_bitmap_domain=domain, collapse_identical=False,
                )
            )
            assert got == want, (domain, thr)
    # sanity: at 9/10 the NULL-bearing identical pair (200,201) fails
    # (3 shared / union 3+4... no: sz 4 vs 5 → union 6, J=1/2) while
    # the clean identical group still qualifies
    high = _pairs(
        set_similarity_join_lsh(sets, "key", "item", 9, 10)
    )
    keys = {(a, b) for a, b, *_ in high}
    assert (100, 101) in keys and (200, 201) not in keys


def test_choose_lsh_params_meets_target(monkeypatch):
    """Band-selection math for the explicit recall contract (VERDICT
    r7 #1): P(collide) >= target at J = threshold, with the signature
    cost of the contract pinned (k grows with the target)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
        lsh_collision_probability,
    )

    # pinned selections at the covisit threshold 0.3
    assert choose_lsh_params(3, 10, 0.8) == (36, 18)
    assert choose_lsh_params(3, 10, 0.95) == (64, 32)
    # the contract holds at the threshold for every selection
    for num, den, tgt in [(3, 10, 0.8), (3, 10, 0.95), (8, 10, 0.9), (1, 2, 0.8)]:
        k, b = choose_lsh_params(num, den, tgt)
        assert lsh_collision_probability(num / den, k, b) >= tgt, (num, den, tgt)
        assert k % b == 0 and k <= 64
    # J=1 guarantee point: identical sets collide on any banding
    assert choose_lsh_params(1, 1, 0.9) == (1, 1)
    # unreachable target degrades to best effort at the cap — the
    # shortfall is visible via the probability, never silent
    monkeypatch.setattr(similarity, "LSH_MAX_K", 4)
    assert choose_lsh_params(3, 10, 0.999999) == (4, 4)
    assert lsh_collision_probability(0.3, 4, 4) < 0.999999


def test_contract_banding_meets_recall_floor(spark):
    """The recall-contract banding (choose_lsh_params at target 0.8,
    as the t90 queries call set_similarity_join_lsh) must stay a
    subset of the exact pairs with every identical-set pair recovered
    and recall at the target on a dense fixture."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
        set_similarity_join,
        set_similarity_join_lsh,
    )

    rows = [(k, (k + j) % 8) for k in range(24) for j in range(6)]
    rows += [(k, i) for k in (100, 101) for i in (1, 2, 3)]  # J=1 pair
    sets = spark.createDataFrame(rows, "key long, item long")
    k, bands = choose_lsh_params(3, 10, 0.8)
    assert (k, bands) == (36, 18)
    lsh = set_similarity_join_lsh(sets, "key", "item", 3, 10, k=k, bands=bands)
    exact = set(map(tuple, _pairs(set_similarity_join(sets, "key", "item", 3, 10))))
    got = set(map(tuple, _pairs(lsh)))
    assert got <= exact and len(got) > 0
    assert (100, 101, 3, 3, 3) in got
    # measured recall on this fixture should beat the midpoint default
    # by a wide margin (expected ~0.52 there, >=0.8 here); assert the
    # contract's floor holds in aggregate on qualifying pairs
    assert len(got) / len(exact) >= 0.8


def test_ivf_index_health_monitors(spark):
    """The executable recenter rule (SCALE.md round 8): a balanced
    index reports max_list_share near uniform and recenter=False; an
    index whose mass crowds one list crosses the 2x-uniform rule."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_index_health,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]), (3, [0.0, -1.0])]
    balanced = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, (_, vec) in enumerate(cents * 3)],
        "vec_id long, embedding array<double>",
    )
    h = ivf_index_health(ivf_assign(balanced, cents), cents)
    assert h["max_list_share"] == 0.25 and not h["recenter"]
    assert h["mean_assigned_cos"] == 1.0
    skewed = spark.createDataFrame(
        [(i, [1.0, 0.01 * i]) for i in range(10)]
        + [(100, [0.0, 1.0]), (101, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    h2 = ivf_index_health(ivf_assign(skewed, cents), cents)
    assert h2["max_list_share"] >= 0.83  # 10 of 12 rows in one list (4dp-rounded)
    assert h2["recenter"]
    # empty index: defined, no recenter
    empty = ivf_assign(balanced.filter("vec_id < 0"), cents)
    h3 = ivf_index_health(empty, cents)
    assert h3 == {
        "mean_assigned_cos": None,
        "max_list_share": None,
        "orphan_rows": 0,
        "recenter": False,
    }
    # orphaned assignments (index references a dropped centroid — the
    # mid-recenter case) are counted, reported, and force recenter
    orphaned = ivf_assign(balanced, cents).withColumn(
        "centroid_id",
        F.when(F.col("vec_id") < 3, F.lit(99)).otherwise(F.col("centroid_id")),
    )
    h4 = ivf_index_health(orphaned, cents)
    assert h4["orphan_rows"] == 3 and h4["recenter"]


def test_semantic_dedup_within_cluster_keep_min(spark):
    """Round 11 (VERDICT r10 #5): SemDeDup-shape prune — candidates
    come ONLY from within a cluster (cross-cluster near-identical
    vectors both survive, the documented blocking trade), survivors
    follow the keep-min id rule, and the whole verdict equals a
    brute-force reference over the same assignment."""
    import math

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    rows = [
        # cluster 0: 10/11/12 mutually near-identical -> keep 10 only
        (10, [1.0, 0.01]),
        (11, [1.0, 0.011]),
        (12, [0.99, 0.01]),
        # cluster 0 but pointing away enough to stay below the cut
        (13, [1.0, 0.9]),
        # cluster 1: a near-identical PAIR -> keep 20
        (20, [0.01, 1.0]),
        (21, [0.011, 1.0]),
        # cluster 1 singleton
        (22, [0.9, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.kept)
        for r in semantic_dedup(emb, threshold=0.995, centroids=cents).collect()
    }
    assert out == {
        10: (0, True),
        11: (0, False),
        12: (0, False),
        13: (0, True),
        20: (1, True),
        21: (1, False),
        22: (1, True),
    }
    # brute-force parity over the same assignment + round-6 cosine
    asg = {
        r.vec_id: (r.cluster, list(r.c_emb))
        for r in ivf_assign(emb, cents).selectExpr(
            "vec_id", "centroid_id as cluster", "c_emb"
        ).collect()
    }

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return round(
            d
            / (
                math.sqrt(sum(x * x for x in u))
                * math.sqrt(sum(x * x for x in v))
            ),
            6,
        )

    for vid, (cl, vec) in asg.items():
        dropped = any(
            o < vid and ocl == cl and cos(ovec, vec) >= 0.995
            for o, (ocl, ovec) in asg.items()
        )
        assert out[vid] == (cl, not dropped), vid
    # cross-cluster blocking: 13 and 22 are nearly parallel (cos ~.995+)
    # but live in different clusters -> both kept by design
    assert cos(asg[13][1], asg[22][1]) >= 0.97
    assert out[13][1] and out[22][1]


def test_pq_refined_recall_and_index_shape(spark):
    """Round 12 (VERDICT r11 #1): the PQ serving path. Raw ADC@3 is a
    weak RANKER on near-dup corpora (measured 0.27) but a sufficient
    FILTER: the refined path (ADC top-16 shortlist -> exact rerank of
    only those rows) must recover >= 0.9 of the brute-force top-3 on
    the perturbed-replica corpus; IVF-PQ must agree with brute-force
    PQ on >= the nprobe recall class. Also pins the index row shape:
    m int codes in [0, ksub) + a positive reconstructed norm."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
        pq_codebooks,
        pq_encode,
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

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    scaled = perturbed_replicas(emb, 16, noise=0.3).persist()
    queries = scaled.filter(F.col("vec_id") < 5)
    cbs = pq_codebooks(scaled, m=8, ksub=16, dim=64)

    # index shape: 8 codes in range, norms positive, deterministic
    enc = pq_encode(scaled, cbs)
    sample = enc.limit(20).collect()
    for r in sample:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
        assert r.anorm > 0.0
    again = {r.vec_id: (tuple(r.codes), r.anorm) for r in enc.limit(20).collect()}
    assert again == {r.vec_id: (tuple(r.codes), r.anorm) for r in sample}

    bf = brute_force_topk(scaled, queries, k=3, dim=64).persist()
    bf.count()
    short = pq_topk(scaled, queries, k=16, codebooks=cbs)
    refined = pq_refine(scaled, short, queries, k=3, dim=64)
    rec = recall_against(bf, refined)
    assert rec >= 0.9, rec
    # IVF-PQ prunes lists before ADC — same recall class as ivf_topk's
    # nprobe coverage, never empty, rank schema intact
    ivf = ivf_pq_topk(scaled, queries, k=3, codebooks=cbs, dim=64)
    rows = ivf.collect()
    assert len(rows) == 15 and all(r.rank <= 3 for r in rows)
    scaled.unpersist()
    bf.unpersist()


def test_pq_encode_arrow_bit_exact(spark):
    """Round 13 (VERDICT r12 #2): the Arrow-batched numpy encode must
    be BIT-identical to the native Catalyst argmin tree — codes AND
    reconstructed norms — at the test width (ksub=16, full corpus) and
    at the production one-byte width (ksub=256, where the native tree
    is ~123 ms/row and only a slice is affordable). The kernel earns
    this by explicit ascending-index float64 accumulates (no BLAS
    reassociation) and first-min argmin (the struct-min tie rule);
    this is what keeps pq_codes_production under the value-hash gate
    instead of a weaker recall pin."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks,
        pq_encode,
        pq_encode_arrow,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def as_map(df):
        return {r.vec_id: (tuple(r.codes), r.anorm) for r in df.collect()}

    cbs16 = pq_codebooks(emb, m=8, ksub=16, dim=64)
    assert as_map(pq_encode(emb, cbs16)) == as_map(
        pq_encode_arrow(emb, cbs16)
    )
    cbs256 = pq_codebooks(emb, m=8, ksub=256, dim=64)
    sl = emb.filter(F.col("vec_id") < 40)
    nat = as_map(pq_encode(sl, cbs256))
    arw = as_map(pq_encode_arrow(sl, cbs256))
    assert nat == arw
    # one-byte width really in play: some code above 15
    assert any(c > 15 for codes, _ in nat.values() for c in codes)


def test_ivf_pq_refined_recall_both_scales(spark):
    """Round 13 (VERDICT r12 #1): the COMPOSED serving query
    ivf_pq_topk_refined must hold recall@3 >= 0.9 vs brute force at
    BOTH probe scales (x4 = 8k rows, x16 = 32k rows) — exactly where
    the raw-ADC ranker decays to 0.4 (SCALE_PROBE_r12.jsonl). The
    brute-force truth here is restricted to the probed lists' rows
    (ivf_topk's nprobe recall class): refine fixes the RANKING defect,
    not coarse-probe misses, so the pin isolates what the refine
    stage claims."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
        ivf_pq_topk_refined,
        pq_codebooks,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_centroid_rows,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for n in (4, 16):
        scaled = perturbed_replicas(emb, n, noise=0.3).persist()
        queries = scaled.filter(F.col("vec_id") < 5)
        cent = ivf_centroid_rows(scaled, 16)
        cbs = pq_codebooks(scaled, m=8, ksub=16, dim=64)
        bf = brute_force_topk(scaled, queries, k=3, dim=64).persist()
        bf.count()
        refined = ivf_pq_topk_refined(
            scaled, queries, k=3, r=16, nprobe=4, codebooks=cbs,
            coarse=cent, dim=64,
        )
        rec = recall_against(bf, refined)
        assert rec >= 0.9, (n, rec)
        # and it must not be a no-op composition: at the 32k scale the
        # raw-ADC ranker alone is measurably worse than the refined path
        if n == 16:
            raw = ivf_pq_topk(
                scaled, queries, k=3, nprobe=4, codebooks=cbs,
                coarse=cent, dim=64,
            )
            assert recall_against(bf, raw) < rec, "refine added nothing"
        scaled.unpersist()
        bf.unpersist()


def test_pq_codebooks_trained_shape_and_determinism(spark):
    """Round 13 (VERDICT r12 #5): trained per-subspace codebooks —
    m books of ksub centroids of dsub dims, deterministic across
    calls (seeds are the ksub smallest vec_ids, labels sort the
    codes), and they drop into the unchanged encode/ADC machinery.
    Whether training LIFTS recall is a measurement
    (SCALE_PROBE_r13 pq_trained: on this isotropic corpus it does
    not — sample and trained both refine to 1.0 at R=16, sample is
    equal-or-better below), so the pin here is the contract, not a
    recall win."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks_trained,
        pq_encode_arrow,
        pq_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cbs = pq_codebooks_trained(emb, m=4, ksub=4, dim=64, iterations=2)
    assert len(cbs) == 4
    assert all(len(cb) == 4 and all(len(sv) == 16 for sv in cb) for cb in cbs)
    again = pq_codebooks_trained(emb, m=4, ksub=4, dim=64, iterations=2)
    assert cbs == again
    enc = pq_encode_arrow(emb, cbs)
    rows = enc.limit(10).collect()
    assert all(len(r.codes) == 4 and all(0 <= c < 4 for c in r.codes)
               for r in rows)
    top = pq_topk(emb, emb.filter("vec_id < 2"), k=3, codebooks=cbs)
    assert top.count() == 6
