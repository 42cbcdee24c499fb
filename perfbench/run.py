"""Layered benchmark for shflow — command-line entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. This process only validates the
arguments and the checkout, then starts ONE fresh worker process
(``perfbench/worker.py``) for the run, waits for it, and prints the
worker's result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md). Everything the run writes lands in
``.bench_out/`` inside the checkout. The exit code is non-zero, and no
result is printed, when the checkout holds no shflow package or the
worker does not finish in time.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import PACKAGE, WORKLOADS  # noqa: E402

# The worker must end well inside the 180 s a run is allowed.
WORKER_TIMEOUT_S = 165


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout_problem(root: str) -> str | None:
    """Why ``root`` cannot be benchmarked, or None when it can."""
    for need in ("__spark_entry__.py", os.path.join(PACKAGE, "__init__.py")):
        if not os.path.isfile(os.path.join(root, need)):
            return f"{need} not found under {root}: run from a shflow checkout"
    return None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    problem = checkout_problem(root)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".bench_out")
    run_dir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")

    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # A fixed driver heap, committed at start: the JVM's resident
        # peak then varies little between runs, so peak_rss_mb compares.
        SHFLOW_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf",
            shlex.quote(
                "spark.driver.extraJavaOptions=-Xms2g "
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
            ),
            "pyspark-shell",
        ]),
        # no hsperfdata files in the system temp directory, for any JVM
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result_path,
    ]
    # The worker's own output goes to stderr: stdout carries only the
    # result line. A new session lets a timeout kill the worker's JVM too.
    proc = subprocess.Popen(
        cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 3
    finally:
        # the worker stops its JVM; this kills anything left in its group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if rc != 0 or not os.path.isfile(result_path):
        print(f"perfbench: worker exited with code {rc}", file=sys.stderr)
        return 4
    with open(result_path) as f:
        result = json.load(f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
