"""Bounded-domain graph folds — the only implementation of the
region-graph family.

The OD region graph has ≤ N_REGIONS+1 nodes BY CONSTRUCTION (region
ids are a pmod of the event value plus the gap-fill sentinel 0 — a
query parameter, not a data property), so after the data-scale OD
aggregation the graph itself is metadata: ≤ (N_REGIONS+1)² edge rows
regardless of corpus size (guide §8 "decide with small rows", the
kmeans_fit / IVF-codebook bounded-driver-fetch budget class). The
iterative graph algorithms — PageRank, BFS/closeness/harmonic, HITS,
k-core peeling, label propagation — therefore fold those rows on the
driver. A graph that is bounded by construction cannot outgrow one
machine, so there is no distributed copy. The data-scale work
(events → OD counts → edge weights, top-k sparsification,
symmetrization) stays in Spark; the collect is bounded AND ENFORCED
(:func:`collect_edges_bounded`, never assumed).

Exactness: every fold mirrors its unrolled DuckDB twin (the
``*_oracle_sql`` generators in pagerank.py, hits.py, bfs.py,
kcore.py and labelprop.py) step for step — the same shortest-repr
double→DECIMAL quantization (DuckDB's nearest-decimal cast and
Python's ``repr`` agree on the ≤12-digit decimals these doubles
hold), exact Decimal products/sums, correctly-rounded
decimal→double, and the identical IEEE floor-round epilogues — so
results are bit-identical to the twins, which verify this on every
oracle run. Integer algorithms (BFS, k-core, LPA) are trivially
exact.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal, localcontext
from math import floor

from pyspark.sql import DataFrame

_Q12 = Decimal("1E-12")

#: PageRank ranks and HITS scores are floor-rounded at this many
#: decimals each round — by the folds here and by their DuckDB twins
#: (pagerank.pagerank_oracle_sql, hits.hits_oracle_sql) alike.
ROUND_SCALE = 9


def collect_edges_bounded(df: DataFrame, bound: int, *cols: str) -> list:
    """Collect ``cols`` of ``df`` with the row count enforced ≤
    ``bound``: the caller asserts a domain-size argument, and a wrong
    argument raises instead of silently pulling an unbounded table to
    the driver. A NULL in any of ``cols`` raises too, naming the
    column — a graph key is never NULL, and the folds would otherwise
    fail later with a ``TypeError`` in a sort or a union-find."""
    rows = df.select(*cols).limit(int(bound) + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"collect_edges_bounded: table exceeds the declared domain "
            f"bound ({bound} rows) — the domain is not bounded"
        )
    for i, col in enumerate(cols):
        if any(r[i] is None for r in rows):
            raise ValueError(
                f"collect_edges_bounded: column {col!r} holds NULL — "
                "graph keys and weights must be non-NULL"
            )
    return rows


def _dec12(x: float) -> Decimal:
    """Mirror the twins' CAST(double AS DECIMAL(*,12)): shortest-repr
    string, then HALF_UP quantize at 12 dp (exact for the ≤12-digit
    decimals the rounded weights and ranks hold)."""
    return Decimal(repr(float(x))).quantize(_Q12, rounding=ROUND_HALF_UP)


def pagerank_fold(
    edges: list[tuple[int, int, float]],
    iterations: int = 10,
    damping: float = 0.85,
) -> list[tuple[int, float]]:
    """Damped PageRank over a collected (src, dst, w) edge list
    (per-src weights from ``pagerank.normalized_edges``): dangling
    self-loops, decimal-exact contribution sums, identical IEEE
    floor-round epilogue to ``pagerank.pagerank_oracle_sql``."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    srcs = {s for s, _, _ in edges}
    aug = list(edges) + [(n, n, 1.0) for n in nodes if n not in srcs]
    n = len(nodes)
    if n == 0:
        return []
    scale = float(10**ROUND_SCALE)
    tele = 1.0 - damping
    rank = {v: floor(1.0 / n * scale + 0.5) / scale for v in nodes}
    # quantize weights once: w is 12-dp by construction, the cast is
    # exact, and it is loop-invariant
    augq = [(s, d, _dec12(w)) for s, d, w in aug]
    with localcontext() as ctx:
        ctx.prec = 60
        for _ in range(iterations):
            acc: dict[int, Decimal] = {}
            for s, d, wq in augq:
                acc[d] = acc.get(d, Decimal(0)) + wq * _dec12(rank[s])
            rank = {
                v: floor(
                    (tele / n + damping * float(acc.get(v, 0.0))) * scale
                    + 0.5
                )
                / scale
                for v in nodes
            }
    return [(v, rank[v]) for v in nodes]


def bfs_hops_fold(
    edges: list[tuple[int, int]], source: int, max_hops: int = 6
) -> list[tuple[int, int]]:
    """Hop distance from ``source`` over the directed (src, dst)
    edges, radius ≤ max_hops; nodes not reached within the budget are
    absent, and an absent source yields an empty result. Twin:
    ``bfs.bfs_oracle_sql``."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    if source not in nodes:
        return []
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    dist = {source: 0}
    frontier = [source]
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in out.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    return sorted(dist.items())


def multi_source_hops_fold(
    edges: list[tuple[int, int]], max_hops: int = 4
) -> dict[tuple[int, int], int]:
    """All-pairs hop table: (source, node) → hops for every pair
    within the budget, self rows at 0 (the ``m`` chain of
    ``bfs._multi_source_sql``)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    dist: dict[tuple[int, int], int] = {}
    for src in nodes:
        d = {src: 0}
        frontier = [src]
        for h in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in out.get(u, ()):
                    if v not in d:
                        d[v] = h
                        nxt.append(v)
            frontier = nxt
        for v, h in d.items():
            dist[(src, v)] = h
    return dist


_HARMONIC_WEIGHTS = {1: 12, 2: 6, 3: 4, 4: 3}


def harmonic_fold(
    edges: list[tuple[int, int]], max_hops: int = 4
) -> list[tuple[int, int, float]]:
    """Harmonic centrality (node, n_reached, harmonic) within the hop
    budget: integer twelfths summed exactly, one closing IEEE
    division. Twin: ``bfs.harmonic_oracle_sql``."""
    if max_hops != 4:
        raise ValueError("exact weights are precomputed for max_hops=4")
    dist = multi_source_hops_fold(edges, max_hops)
    agg: dict[int, tuple[int, int]] = {}
    for (_, v), h in dist.items():
        if h > 0:
            cnt, acc = agg.get(v, (0, 0))
            agg[v] = (cnt + 1, acc + _HARMONIC_WEIGHTS[h])
    return [
        (v, cnt, float(acc) / 12.0) for v, (cnt, acc) in sorted(agg.items())
    ]


def closeness_fold(
    edges: list[tuple[int, int]], max_hops: int = 4
) -> list[tuple[int, int, int, float]]:
    """Closeness centrality within the hop budget:
    (node, n_reached, total_hops, n_reached/total_hops). Twin:
    ``bfs.closeness_oracle_sql``."""
    dist = multi_source_hops_fold(edges, max_hops)
    agg: dict[int, tuple[int, int]] = {}
    for (_, v), h in dist.items():
        if h > 0:
            cnt, acc = agg.get(v, (0, 0))
            agg[v] = (cnt + 1, acc + h)
    return [
        (v, cnt, acc, float(cnt) / float(acc))
        for v, (cnt, acc) in sorted(agg.items())
    ]


def hits_fold(
    edges: list[tuple[int, int]],
    iterations: int = 5,
) -> list[tuple[int, float, float]]:
    """(node, hub, authority) over the directed simple (src, dst)
    graph after exactly ``iterations`` alternations from hub = 1.0:
    decimal(38,12) sums, max-normalized, 9-dp floor-rounded per
    half-round. Twin: ``hits.hits_oracle_sql``."""
    es = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in es} | {d for _, d in es})
    scale = float(10**ROUND_SCALE)

    def norm_round(scores: dict[int, float]) -> dict[int, float]:
        mx = max(scores.values()) if scores else None
        mx = mx or 1.0
        return {
            v: floor(x / float(mx) * scale + 0.5) / scale
            for v, x in scores.items()
        }

    hub = {v: 1.0 for v in nodes}
    auth: dict[int, float] = {v: 0.0 for v in nodes}
    with localcontext() as ctx:
        ctx.prec = 60
        for _ in range(iterations):
            acc: dict[int, Decimal] = {}
            for s, d in es:
                acc[d] = acc.get(d, Decimal(0)) + _dec12(hub[s])
            auth = norm_round(
                {v: float(acc[v]) if v in acc else 0.0 for v in nodes}
            )
            acc = {}
            for s, d in es:
                acc[s] = acc.get(s, Decimal(0)) + _dec12(auth[d])
            hub = norm_round(
                {v: float(acc[v]) if v in acc else 0.0 for v in nodes}
            )
    return [(v, hub[v], auth[v]) for v in nodes]


def k_core_fold(
    edges: list[tuple[int, int]], k: int, rounds: int = 6
) -> list[tuple[int, int]]:
    """k-core over the pre-symmetrized (src, dst) edge list (both
    orientations present): fixed peel rounds, then (node, deg ≥ k).
    Twin: ``kcore.k_core_oracle_sql``."""
    live = list(edges)
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for s, _ in live:
            deg[s] = deg.get(s, 0) + 1
        alive = {v for v, dg in deg.items() if dg >= k}
        live = [(s, d) for s, d in live if s in alive and d in alive]
    deg = {}
    for s, _ in live:
        deg[s] = deg.get(s, 0) + 1
    return sorted((v, dg) for v, dg in deg.items() if dg >= k)


def label_propagation_fold(
    und_edges: list[tuple[int, int, int]], rounds: int = 4
) -> list[tuple[int, int]]:
    """(node, community) after ``rounds`` synchronous weighted-LPA
    updates, fed the ALREADY-undirected (u, v, w) simple weighted
    edges (the Spark-side ``labelprop.undirected_weighted_edges``
    aggregate stays distributed): (score desc, label asc) tie-break.
    Twin: ``labelprop.lpa_oracle_sql``."""
    nbr: list[tuple[int, int, int]] = []
    for u, v, w in und_edges:
        nbr.append((u, v, w))
        nbr.append((v, u, w))
    nodes = sorted({s for s, _, _ in nbr})
    labels = {v: v for v in nodes}
    for _ in range(rounds):
        scores: dict[int, dict[int, int]] = {}
        for s, d, w in nbr:
            sc = scores.setdefault(d, {})
            lab = labels[s]
            sc[lab] = sc.get(lab, 0) + w
        new_labels = dict(labels)
        for v, sc in scores.items():
            new_labels[v] = min(
                sc.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
        labels = new_labels
    return sorted(labels.items())
