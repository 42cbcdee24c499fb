"""Region-graph family: the driver folds in ``operators/graph_bounded.py``
are the only implementation of PageRank, HITS, BFS, harmonic and
closeness centrality, k-core and label propagation. Each fold must
equal its unrolled DuckDB twin (the ``*_oracle_sql`` generators)
exactly on the same fixture — including the decimal/floor-round
arithmetic of PageRank and HITS, the tie-breaks of LPA and the fixed
round budgets — and must hold the known values of small hand graphs.
The Spark-side prep the queries run (``normalized_edges``,
``topk_out_edges``, ``symmetrize``, ``undirected_weighted_edges``)
feeds the folds here exactly as it does in the queries."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark import (
    operators as ops,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
    bfs_oracle_sql,
    closeness_oracle_sql,
    harmonic_oracle_sql,
    topk_out_edges,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
    bfs_hops_fold,
    closeness_fold,
    collect_edges_bounded,
    harmonic_fold,
    hits_fold,
    k_core_fold,
    label_propagation_fold,
    multi_source_hops_fold,
    pagerank_fold,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.hits import (
    hits_oracle_sql,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kcore import (
    k_core_oracle_sql,
    symmetrize,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.labelprop import (
    lpa_oracle_sql,
    undirected_weighted_edges,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pagerank import (
    normalized_edges,
    pagerank_oracle_sql,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
    events_as_pings,
)

from conftest import SF_SMALL

# a small directed weighted multigraph with hubs, chains, a sink,
# an isolated-pair component and asymmetric weights
EDGES = [
    (1, 2, 5), (1, 3, 3), (2, 3, 4), (3, 1, 2), (3, 4, 7),
    (4, 5, 1), (5, 4, 2), (5, 6, 9), (6, 1, 1), (2, 4, 2),
    (7, 8, 3), (8, 7, 3), (4, 4, 5), (1, 2, 1),
]


def _graph_cte(rows, cols: str) -> str:
    """``graph(cols)`` as an inline VALUES relation."""
    values = ", ".join(
        "(" + ", ".join(repr(v) for v in r) + ")" for r in rows
    )
    return f"graph AS (SELECT * FROM (VALUES {values}) t({cols}))"


def _duck(sql: str) -> set[tuple]:
    with duckdb.connect() as con:
        return {tuple(r) for r in con.execute(sql).fetchall()}


def _edges_df(spark):
    return spark.createDataFrame(EDGES, "src int, dst int, w int")


# ---- parity with the DuckDB twins ---------------------------------------


def test_pagerank_fold_matches_oracle(spark):
    norm = normalized_edges(
        _edges_df(spark).select("src", "dst", F.col("w").alias("cnt"))
    )
    rows = [(r["src"], r["dst"], r["w"]) for r in norm.collect()]
    got = dict(pagerank_fold(rows, iterations=10))
    want = dict(
        _duck(pagerank_oracle_sql(_graph_cte(EDGES, "src, dst, cnt"), 10))
    )
    assert got == want  # exact equality, not approx — same bits


def test_bfs_and_centrality_folds_match_oracle():
    rows = sorted({(s, d) for s, d, _ in EDGES})
    cte = _graph_cte(rows, "src, dst")

    want = _duck(bfs_oracle_sql(cte, source=1, max_hops=6))
    assert set(bfs_hops_fold(rows, 1, 6)) == want
    # absent source: empty on both sides
    assert bfs_hops_fold(rows, 99, 6) == []
    assert _duck(bfs_oracle_sql(cte, source=99, max_hops=6)) == set()

    want_h = _duck(harmonic_oracle_sql(cte, max_hops=4))
    assert set(harmonic_fold(rows, 4)) == want_h

    want_c = _duck(closeness_oracle_sql(cte, max_hops=4))
    assert set(closeness_fold(rows, 4)) == want_c


def test_hits_fold_matches_oracle():
    rows = [(s, d) for s, d, _ in EDGES]  # duplicates and a self-loop
    cte = _graph_cte(rows, "src, dst")
    for iters in (1, 3, 5):
        want = _duck(hits_oracle_sql(cte, iterations=iters))
        assert set(hits_fold(rows, iterations=iters)) == want


def test_kcore_fold_matches_oracle(spark):
    sym = symmetrize(_edges_df(spark).select("src", "dst"))
    rows = [(r.src, r.dst) for r in sym.collect()]
    cte = _graph_cte(rows, "src, dst")
    for k in (2, 3):
        want = _duck(k_core_oracle_sql(cte, k=k, rounds=6))
        assert set(k_core_fold(rows, k=k, rounds=6)) == want


def test_lpa_fold_matches_oracle(spark):
    und = undirected_weighted_edges(_edges_df(spark))
    rows = [(r.u, r.v, r.w) for r in und.collect()]
    want = _duck(lpa_oracle_sql(_graph_cte(EDGES, "src, dst, w"), rounds=4))
    assert set(label_propagation_fold(rows, rounds=4)) == want


# ---- the bounded collect -------------------------------------------------


def test_collect_edges_bounded_enforces(spark):
    df = _edges_df(spark)
    with pytest.raises(ValueError, match="domain bound"):
        collect_edges_bounded(df, 3, "src", "dst")
    assert len(collect_edges_bounded(df, 100, "src", "dst")) == len(EDGES)
    # a NULL key is a named contract error, not a later TypeError
    with_null = df.unionByName(
        spark.createDataFrame([(9, None, 1)], "src int, dst int, w int")
    )
    with pytest.raises(ValueError, match="'dst' holds NULL"):
        collect_edges_bounded(with_null, 100, "src", "dst")


# ---- known values --------------------------------------------------------


def test_pagerank_symmetric_cycle_is_uniform():
    """A→B→A: symmetry forces rank 0.5/0.5 at every iteration."""
    got = dict(pagerank_fold([(1, 2, 1.0), (2, 1, 1.0)], iterations=5))
    assert got == {1: 0.5, 2: 0.5}


def test_pagerank_star_graph_ranks_hub_highest_and_conserves_mass():
    """Spokes all point at the hub; hub's rank must dominate, and the
    dangling-hub self-loop keeps total mass at 1."""
    spokes = [(i, 0, 1.0) for i in range(1, 6)]  # 5 spokes → hub 0
    got = dict(pagerank_fold(spokes, iterations=10))
    assert max(got, key=got.get) == 0
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # spokes are symmetric: identical ranks
    assert len({got[i] for i in range(1, 6)}) == 1


def test_normalized_edges_sums_to_one_per_src(spark):
    raw = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (1, 2, 2), (2, 1, 7)],
        "src int, dst int, cnt int",
    )
    rows = normalized_edges(raw).collect()
    got = {(r.src, r.dst): r.w for r in rows}
    assert got[(1, 2)] == pytest.approx(5 / 6, abs=1e-12)
    assert got[(1, 3)] == pytest.approx(1 / 6, abs=1e-12)
    assert got[(2, 1)] == 1.0
    by_src: dict[int, float] = {}
    for (s, _), w in got.items():
        by_src[s] = by_src.get(s, 0.0) + w
    for s, tot in by_src.items():
        assert tot == pytest.approx(1.0, abs=1e-9)


def test_bfs_hops_chain_and_budget(spark):
    # chain 1->2->3->4->5 plus a shortcut 1->3; budget cuts at 2 hops
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)]
    out = dict(bfs_hops_fold(edges, 1, max_hops=2))
    assert out == {1: 0, 2: 1, 3: 1, 4: 2}  # 5 is 3 hops: outside budget

    # sparsifier: top-2 by weight, ties to smaller dst, self-loops gone
    wedges = spark.createDataFrame(
        [(1, 1, 99), (1, 2, 5), (1, 3, 5), (1, 4, 1)],
        "src int, dst int, w long",
    )
    kept = sorted((r.src, r.dst) for r in topk_out_edges(wedges, k=2).collect())
    assert kept == [(1, 2), (1, 3)]


def test_harmonic_centrality_closed_form_path_graph():
    # directed path 1 -> 2 -> 3 -> 4: H(2)=1, H(3)=1.5, H(4)=1+1/2+1/3
    edges = [(1, 2), (2, 3), (3, 4)]
    got = {v: (n, h) for v, n, h in harmonic_fold(edges)}
    assert got[2] == (1, 1.0)
    assert got[3] == (2, 1.5)
    n, h = got[4]
    assert n == 3 and h == (12 + 6 + 4) / 12.0
    assert 1 not in got  # nothing reaches the head
    # hop table is exact: dist(1 -> 4) = 3
    hops = multi_source_hops_fold(edges)
    assert hops[(1, 4)] == 3 and hops[(1, 1)] == 0


def test_label_propagation_two_cliques(spark):
    # two triangles {1,2,3} and {10,11,12} bridged by one weak edge
    edges = [
        (1, 2, 5), (2, 3, 5), (1, 3, 5),
        (10, 11, 5), (11, 12, 5), (10, 12, 5),
        (3, 10, 1),
    ]
    und = undirected_weighted_edges(
        spark.createDataFrame(edges, "src int, dst int, w long")
    )
    out = dict(
        label_propagation_fold(
            [(r.u, r.v, r.w) for r in und.collect()], rounds=4
        )
    )
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[10], out[11], out[12]}) == 1
    assert out[1] != out[10]


def test_kcore_peeling_converged_and_correct(spark):
    """The 6-round budget must be past convergence for the paired
    graph (7 rounds == 6 rounds), and a hand graph peels right:
    4-clique + pendant chain → the 2- and 3-cores keep the clique."""
    # 4-clique (0-3) + chain 3-4-5
    und = [(a, b) for a in range(4) for b in range(4) if a != b]
    und += [(3, 4), (4, 3), (4, 5), (5, 4)]
    core3 = set(k_core_fold(und, k=3, rounds=6))
    assert core3 == {(0, 3), (1, 3), (2, 3), (3, 3)}  # clique only
    core2 = {v for v, _ in k_core_fold(und, k=2, rounds=6)}
    assert core2 == {0, 1, 2, 3}  # chain 4-5 peels in 2 rounds

    # paired-query convergence: one extra round changes nothing
    pos = ops.hourly_positions(
        events_as_pings(spark, SF_SMALL, entrymod.N_REGIONS)
    )
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    g2 = symmetrize(
        topk_out_edges(
            tot.select(
                F.col("orig").alias("src"),
                F.col("dest").alias("dst"),
                "w",
            ),
            k=3,
        )
    )
    rows = [(r.src, r.dst) for r in g2.collect()]
    r6 = k_core_fold(rows, 4, rounds=6)
    r7 = k_core_fold(rows, 4, rounds=7)
    assert r6 == r7 and len(r6) > 0
