"""Workload definitions and input generation for the layered benchmark.

A workload is a fixed list of operations. An operation is one of:

- a registered query (``__spark_entry__.queries()[name]``): build the
  DataFrame, plan it, write it to the ``noop`` sink;
- ``siar_fit``: ``sim.fit_siar`` over the weekly OD fractions;
- one micro-batch of a streaming query (the ``stream_ingest`` workload).

Inputs are the committed tables in ``perfbench/data`` (the sf0.01
``events``, ``documents`` and ``embeddings`` tables). The seed changes
the op order in each pass, the micro-batch split (and which files arrive late) and the planted SIAR
parameters. It never changes an operation's correct output, except
``siar_fit``, whose expected answer is the planted pair.
"""

from __future__ import annotations

import os
import random

PACKAGE = "analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DIGESTS_PATH = os.path.join(HERE, "digests.json")
TABLES = ("events", "documents", "embeddings")

N_REGIONS = 20  # region ids 1..20 plus the 0 sentinel, as in __spark_entry__

WORKLOADS: dict[str, dict] = {
    # The paper's batch flow: exec-bound scans and shuffles with about
    # one build job per query, then the SIAR fit on the OD fractions.
    "mobility": {
        "ops": [
            "occupancy_by_region_hour",
            "od_fractions",
            "home_location",
            "region_pagerank",
            "siar_fit",
            "stream_ingest",
        ],
        "batches": 4,
    },
    # Iterative near-dup dedup: eager jobs fired while the DataFrame is
    # built dominate; the last two queries are exec-bound.
    "dedup_iterative": {
        "ops": [
            "dedup_survivors_script",
            "near_dup_clusters",
            "containment_pairs",
        ],
    },
}


def digest_rows(cols, rows) -> str:
    """SHA-256 of the rows normalised as ``tools/verify_oracle.py`` does
    (columns sorted by name, cells by type, rows sorted)."""
    import hashlib

    from verify_oracle import norm_rows

    return hashlib.sha256(repr(norm_rows(cols, rows)).encode()).hexdigest()


def pass_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The op order of one pass, a function of (seed, pass number)."""
    order = list(ops)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


# ---------------------------------------------------------------------------
# generated inputs


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA_DIR, t)}.parquet'"
        )
    return con


STREAM_DAYS = 2  # the stream replays the first two days of events

# hours before this instant are streamed
STREAM_END_SQL = (
    f"(SELECT date_trunc('day', min(ts)) + INTERVAL {STREAM_DAYS} DAY FROM events)"
)

STREAM_PINGS_SQL = f"""
SELECT * FROM (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST((((CAST(floor(value) AS BIGINT) % {N_REGIONS}) + {N_REGIONS})
               % {N_REGIONS}) + 1 AS INTEGER) AS region_id
  FROM events)
WHERE hour < {STREAM_END_SQL}
"""


def stream_edges_sql(edges_sql: str) -> str:
    """The streamed slice of a query whose rows carry an ``hour``."""
    return f"SELECT * FROM ({edges_sql}) WHERE hour < {STREAM_END_SQL}"


def stream_files(out_dir: str, seed: int, n_batches: int, edges_sql: str) -> list[dict]:
    """Stage the micro-batch files of ``stream_ingest``.

    Pings (one row per event: user_id, hour, region_id) feed the
    occupancy stream; gap-filled trajectory edges (the
    ``trajectory_gap_fill`` rows) feed the OD stream; both cover the
    first ``STREAM_DAYS`` days. They are cut in hour order into
    ``n_batches`` files of about equal hour spans, each cut moved by a
    seeded jitter; then the seed swaps two adjacent files, so one file
    carries earlier hours than the file before it (a late file).
    Returns, per batch, the staged paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = _duck()
    pings = con.execute(STREAM_PINGS_SQL + " ORDER BY hour, user_id, region_id").arrow()
    edges = con.execute(
        "SELECT user_id, region_id, hour, pre_hour, pre_region_id "
        f"FROM ({stream_edges_sql(edges_sql)}) ORDER BY hour, user_id"
    ).arrow()
    con.close()
    rng = random.Random(seed)
    # cut by hour so both files of one batch cover the same hours
    hours = sorted(set(pings.column("hour").to_pylist()))
    span = len(hours) / n_batches
    jitter = int(span // 4)
    cuts = [round(k * span) + rng.randint(-jitter, jitter) for k in range(1, n_batches)]
    bounds = [hours[0]] + [hours[c] for c in cuts] + [None]
    late = rng.randrange(0, n_batches - 1)
    order = list(range(n_batches))
    order[late], order[late + 1] = order[late + 1], order[late]

    def cut(tbl: pa.Table, lo, hi) -> pa.Table:
        import pyarrow.compute as pc

        mask = pc.greater_equal(tbl.column("hour"), pa.scalar(lo, tbl.schema.field("hour").type))
        if hi is not None:
            mask = pc.and_(
                mask, pc.less(tbl.column("hour"), pa.scalar(hi, tbl.schema.field("hour").type))
            )
        return tbl.filter(mask)

    staged = []
    for k, b in enumerate(order):
        lo, hi = bounds[b], bounds[b + 1]
        files = {}
        for name, tbl, schema in (
            ("pings", pings, _pings_schema(pa)),
            ("edges", edges, _edges_schema(pa)),
        ):
            path = os.path.join(out_dir, f"{name}-{k:03d}.parquet")
            pq.write_table(cut(tbl, lo, hi).cast(schema), path)
            files[name] = path
        staged.append(files)
    return staged


def _pings_schema(pa):
    return pa.schema(
        [("user_id", pa.int64()), ("hour", pa.timestamp("us")), ("region_id", pa.int32())]
    )


def _edges_schema(pa):
    return pa.schema(
        [
            ("user_id", pa.int64()),
            ("region_id", pa.int32()),
            ("hour", pa.timestamp("us")),
            ("pre_hour", pa.timestamp("us")),
            ("pre_region_id", pa.int32()),
        ]
    )


# ---------------------------------------------------------------------------
# SIAR inputs

SIAR_GRID = [(b, g) for b in (0.2, 0.35, 0.5) for g in (0.05, 0.12, 0.3)]
SIAR_STEPS = 168  # one week of hourly steps
SIAR_DAYS = 7
SIAR_MIJ = [[1.0, 0.5, 0.2], [0.5, 1.0, 0.5], [0.2, 0.5, 1.0]]


def siar_inputs(od_fraction_rows, seed: int):
    """(init, hourly_fracs, mij, observed, planted) for ``fit_siar``.

    ``hourly_fracs`` folds the ``od_fractions`` rows onto the 168-hour
    weekly cycle (counts summed per hour-of-week, then row-normalised;
    an origin with no outflow stays put). ``observed`` is the confirmed
    series simulated from a planted (beta, gamma) grid point that the
    seed picks, so the fit must return exactly that point."""
    import numpy as np

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sim import (
        confirmation_curve,
        simulate_banded,
    )

    m = N_REGIONS + 1
    counts = np.zeros((168, m, m))
    for r in od_fraction_rows:
        how = r["hour"].weekday() * 24 + r["hour"].hour
        counts[how, r["orig"], r["dest"]] += r["cnt"]
    hourly = {}
    for h in range(168):
        c = counts[h]
        out = c.sum(axis=1, keepdims=True)
        frac = np.where(out > 0, c / np.where(out > 0, out, 1.0), np.eye(m))
        hourly[h] = frac
    init = np.zeros((3, m, 4))
    init[:, :, 0] = 1000.0
    init[:, 1, 0] = 990.0
    init[:, 1, 1] = 10.0
    mij = np.array(SIAR_MIJ)
    planted = SIAR_GRID[random.Random(seed).randrange(len(SIAR_GRID))]
    _, ni = simulate_banded(init, hourly, SIAR_STEPS, planted[0], planted[1], mij)
    observed = confirmation_curve(ni, dt=1.0, days=SIAR_DAYS)
    return init, hourly, mij, observed, planted
