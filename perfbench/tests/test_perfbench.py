"""Tests of the layered benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

They run every workload once through ``run.py --trace 1`` (about two
minutes on 4 cores) and pin the result line, the per-op record schema
and the job counts, which do not depend on timing.
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)

import worker  # noqa: E402
import workloads as wl  # noqa: E402

SEED = 7

# Build + exec jobs of one op in a traced pass over perfbench/data
# (the sf0.01 tables), in a run of its workload.
JOB_PINS = {
    "region_pagerank": 9,
    "near_dup_clusters": 30,
    "dedup_survivors_script": 44,
}

# Ops whose build fires asynchronous broadcast jobs of which, in some
# builds, one does not run: their build count may be one short.
RACY_BUILD = {"dedup_survivors_script"}


@pytest.fixture(scope="module")
def traced():
    """{workload: (result line, per-op records)} of one traced run each."""
    out = {}
    for name in wl.WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", name,
             "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
            capture_output=True, text=True, timeout=180,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.splitlines()[-1])
        with open(os.path.join(".bench_out", f"{name}-{SEED}-1", "trace.jsonl")) as f:
            records = [json.loads(line) for line in f]
        out[name] = (result, records)
    return out


def by_pass(records: list[dict]) -> dict[int, list[dict]]:
    passes = collections.defaultdict(list)
    for r in records:
        passes[r["pass"]].append(r)
    return passes


def test_result_line(traced):
    for result, _ in traced.values():
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] > 0
        assert list(result["metrics"]) == list(worker.PER_LAYER)
        for m in result["metrics"].values():
            assert isinstance(m["value"], (int, float))


def test_record_schema(traced):
    for _, records in traced.values():
        assert len(by_pass(records)) == 2
        for rec in records:
            assert tuple(rec) == worker.RECORD_KEYS
            assert rec["ok"] is True and rec["failed_phase"] is None
            for key in worker.RECORD_KEYS[5:]:
                assert isinstance(rec[key], (int, float)), key
                assert rec[key] >= 0, key


def test_job_counts_are_pinned(traced):
    for _, records in traced.values():
        for r in records:
            if r["op"] in JOB_PINS:
                jobs = r["build_jobs"] + r["exec_jobs"]
                slack = 1 if r["op"] in RACY_BUILD else 0
                assert JOB_PINS[r["op"]] - slack <= jobs <= JOB_PINS[r["op"]], r


def test_counts_repeat_between_traced_passes(traced):
    keys = ("exec_jobs", "exec_stages", "stream_jobs", "sim_tasks")
    for _, records in traced.values():
        first, second = by_pass(records).values()
        first = {r["op"]: r for r in first}
        for r in second:
            f = first[r["op"]]
            assert [f[k] for k in keys] == [r[k] for k in keys], r["op"]
            gap = abs(f["build_jobs"] - r["build_jobs"])
            assert gap <= (1 if r["op"] in RACY_BUILD else 0), r["op"]


def test_each_layer_reports_work(traced):
    result, _ = traced["mobility"]
    metrics = result["metrics"]
    assert metrics["streaming.merge_jobs"]["value"] > 0
    assert metrics["sim.sweep_tasks"]["value"] == len(wl.SIAR_GRID)
    assert traced["dedup_iterative"][0]["metrics"]["build.jobs"]["value"] > 0


def test_metric_names_match_benchmark_json():
    path = os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(worker.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(worker.PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)


def test_refuses_a_directory_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", "mobility",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
