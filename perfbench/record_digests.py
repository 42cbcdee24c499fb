"""Regenerate ``perfbench/digests.json``: the expected output digest of
every operation the benchmark checks.

    python3 perfbench/record_digests.py

Run from the root of a checkout. Every query op takes its digest from
its DuckDB twin in ``__spark_entry__.oracle_sql()`` over
``perfbench/data``; the two stream tables take theirs from the
``od_matrix`` twin and from a count per (region_id, hour), both over
the streamed hours. ``siar_fit`` needs none: its check is that the fit
returns the planted parameters.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import workloads as wl  # noqa: E402


def main() -> int:
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = wl._duck()
    out = {}

    def from_sql(name: str, sql: str) -> None:
        res = con.execute(sql)
        out[name] = wl.digest_rows([d[0] for d in res.description], res.fetchall())

    ops = sorted({op for spec in wl.WORKLOADS.values() for op in spec["ops"]})
    for name in ops:
        if name not in ("siar_fit", "stream_ingest"):
            from_sql(name, oracles[name])
    from_sql(
        "occupancy_stream",
        f"SELECT region_id, hour, count(*) AS cnt FROM ({wl.STREAM_PINGS_SQL}) GROUP BY ALL",
    )
    from_sql("od_stream", wl.stream_edges_sql(oracles["od_matrix"]))

    with open(wl.DIGESTS_PATH, "w") as f:
        json.dump(dict(sorted(out.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {len(out)} digests to {wl.DIGESTS_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
