"""Property-based fidelity tests for the set-similarity family
(round 7): on randomized set tables (NULL items, duplicate rows,
planted identical multisets), every exact physical path must equal an
independent python model, and the LSH path must be a subset with
exact values, identical under the identical-set collapse, and
complete on identical-multiset pairs (J-certain collisions)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

NUM, DEN = 3, 10  # J >= 0.3

# (key, item) rows: small domains force collisions, None items allowed
row = st.tuples(
    st.integers(min_value=0, max_value=7),
    st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
)
tables = st.lists(row, min_size=1, max_size=40).map(
    # plant an identical-multiset clone of key 0's rows under key 100
    # (and a second clone under 101) so every example exercises the
    # collapse's within-group expansion
    lambda rows: rows
    + [(100, i) for (k, i) in rows if k == 0]
    + [(101, i) for (k, i) in rows if k == 0]
)


def _model(rows):
    """Independent python model of the exact join's semantics: sz
    counts rows (NULLs included), |∩| is set-intersection of non-NULL
    items, pairs qualify when DEN·|∩| ≥ NUM·|∪| with |∪| = sz_a +
    sz_b − |∩|."""
    sz: dict = {}
    items: dict = {}
    for k, i in rows:
        sz[k] = sz.get(k, 0) + 1
        if i is not None:
            items.setdefault(k, set()).add(i)
    out = {}
    keys = sorted(sz)
    for x, a in enumerate(keys):
        for b in keys[x + 1:]:
            inter = len(items.get(a, set()) & items.get(b, set()))
            union = sz[a] + sz[b] - inter
            if DEN * inter >= NUM * union:
                out[(a, b)] = (inter, sz[a], sz[b])
    return out


def _model_stats(rows):
    """Independent python model of set_similarity_stats: df counts an
    item's rows, NULL items are left out of cand_pairs and max_df."""
    df: dict = {}
    for _k, i in rows:
        if i is not None:
            df[i] = df.get(i, 0) + 1
    return {
        "n_rows": len(rows),
        "n_keys": len({k for k, _i in rows if k is not None}),
        "cand_pairs": float(sum(d * (d - 1) // 2 for d in df.values())),
        "max_df": max(df.values(), default=0),
    }


def _pairs(df):
    return {
        (r.key_a, r.key_b): (r.n_shared, r.sz_a, r.sz_b)
        for r in df.collect()
    }


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(tables)
def test_setsim_paths_vs_model_and_lsh_laws(spark, exact_route, rows):
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
        set_similarity_join_lsh,
    )

    sets = spark.createDataFrame(rows, "key long, item long")
    want = _model(rows)

    # the forced single join and prefix filter, then the bitmap path;
    # the route rule is consulted once, with the model's stats
    for route in ("single", "prefix"):
        asked = exact_route(route)
        got = _pairs(set_similarity_join(sets, "key", "item", NUM, DEN))
        assert asked == [_model_stats(rows)] and got == want, route
    exact = _pairs(
        set_similarity_join(sets, "key", "item", NUM, DEN, dense_bitmap_domain=10)
    )
    assert exact == want

    lsh_variants = {}
    for domain in (None, 10):
        for collapse in (True, False):
            lsh_variants[(domain, collapse)] = _pairs(
                set_similarity_join_lsh(
                    sets, "key", "item", NUM, DEN,
                    dense_bitmap_domain=domain,
                    collapse_identical=collapse,
                )
            )
    # collapse is a pure physical choice
    assert lsh_variants[(None, True)] == lsh_variants[(None, False)]
    assert lsh_variants[(10, True)] == lsh_variants[(10, False)]
    # both payload modes agree
    assert lsh_variants[(None, True)] == lsh_variants[(10, True)]
    lsh = lsh_variants[(None, True)]
    # subset with exact values
    for pair, vals in lsh.items():
        assert pair in exact and exact[pair] == vals, pair
    # identical multisets collide on every band: if a planted-clone
    # pair qualifies exactly, LSH must have it
    for pair in ((0, 100), (0, 101), (100, 101)):
        if pair in exact:
            assert pair in lsh, pair


# --- round 8: band-join fidelity over random band tables ---

# (doc_id, band, band_hash) rows with deliberately tiny hash domains so
# buckets go hot; one row per (doc, band) as minhash_bands guarantees
band_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=40,
).map(lambda rows: list({(d, b): h for (d, b, h) in rows}.items()))


def _band_model(rows):
    """Independent model: a pair is a candidate iff the docs share a
    (band, hash) cell."""
    cells: dict = {}
    for (d, b), h in rows:
        cells.setdefault((b, h), set()).add(d)
    pairs = set()
    for docs in cells.values():
        s = sorted(docs)
        for i, a in enumerate(s):
            for b2 in s[i + 1:]:
                pairs.add((a, b2))
    return pairs


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(band_rows)
def test_hot_bucket_cap_equals_model(spark, rows):
    """lsh_pairs_from_bands must equal the independent shared-cell
    model on random band tables whose tiny hash domains make hot
    buckets, duplicate signatures, and docs sharing some buckets but
    not others."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        lsh_pairs_from_bands,
    )

    df = spark.createDataFrame(
        [(d, b, f"h{h}") for (d, b), h in rows],
        "doc_id long, band int, band_hash string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in lsh_pairs_from_bands(df).collect()
    }
    assert got == _band_model(rows), sorted(rows)
