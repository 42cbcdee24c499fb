"""One benchmark run in a fresh process (started by ``perfbench/run.py``).

Flow: start the session, make the inputs, run one untimed warm-up
pass that also checks every op's output, then timed passes until
``--seconds`` have been measured. With ``--trace 1`` the timed passes
alternate untraced and traced; traced passes read Spark's status store
after every op and write one record per op to ``trace.jsonl`` in the
run directory. The result JSON goes to ``--result``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import workloads as wl  # noqa: E402
from layers import STAGE_KEYS, SourcesTracer, StatusReader, plan_phases  # noqa: E402

# One record per op in a traced pass; tests pin this key set.
RECORD_KEYS = (
    "pass", "op", "ok", "failed_phase", "error",
    "total_s", "build_s", "plan_s", "exec_s",
    "plan_analysis_s", "plan_optimization_s", "plan_planning_s",
    "build_jobs", "build_stages", "build_tasks",
    "exec_jobs", "exec_stages", "exec_tasks", "exec_task_s", "exec_gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "scan_tasks", "scan_bytes",
    "sources_s", "fan_out_fired", "fan_out_skipped",
    "stream_merge_s", "stream_jobs", "stream_bytes_written", "stream_input_bytes",
    "sim_s", "sim_tasks",
)

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "ok_frac": "frac", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.scan_tasks": "count",
    "sources.scan_bytes": "bytes",
    "sources.fan_out_fired": "count",
    "build.s": "s", "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.busy_frac": "frac",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes", "exec.gc_s": "s",
    "streaming.batch_s": "s", "streaming.merge_s": "s", "streaming.merge_jobs": "count",
    "streaming.bytes_written": "bytes", "streaming.write_amp": "ratio",
    "sim.fit_s": "s", "sim.sweep_tasks": "count",
    "trace.overhead_s": "s",
}


class OpFailed(Exception):
    def __init__(self, phase: str, exc: BaseException):
        super().__init__(f"{phase}: {type(exc).__name__}: {exc}")
        self.phase = phase
        self.exc = exc


def new_record(pass_no: int, op: str) -> dict:
    rec = dict.fromkeys(RECORD_KEYS, 0)
    rec.update({"pass": pass_no, "op": op, "ok": True, "failed_phase": None, "error": None})
    return rec


def phase(name: str, fn, *args):
    try:
        return fn(*args)
    except Exception as e:  # recorded by the caller, the run continues
        raise OpFailed(name, e) from e


class Run:
    def __init__(self, args):
        self.args = args
        self.spec = wl.WORKLOADS[args.workload]
        self.run_dir = args.run_dir
        self.failures: list[dict] = []
        self.attempted = 0
        self.op_times: list[float] = []
        self.records: list[dict] = []
        with open(wl.DIGESTS_PATH) as f:
            self.expected = json.load(f)

    # -- set-up --------------------------------------------------------------
    def start(self) -> None:
        from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.session import (
            get_spark,
        )

        import __spark_entry__ as entrymod

        cpus = os.cpu_count() or 4
        t0 = time.perf_counter()
        self.spark = get_spark("shflow-perfbench", cpus=cpus)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = self.spark.sparkContext.defaultParallelism
        self.entry = entrymod
        self.queries = entrymod.queries()
        self.status = StatusReader(self.spark)
        self.sources = SourcesTracer(entrymod)

    def make_inputs(self) -> float:
        """Generate the workload's inputs; returns the seconds spent."""
        t0 = time.perf_counter()
        inputs = os.path.join(self.run_dir, "inputs")
        os.makedirs(inputs, exist_ok=True)
        if "stream_ingest" in self.spec["ops"]:
            edges_sql = self.entry.oracle_sql()["trajectory_gap_fill"]
            self.staged = wl.stream_files(
                inputs, self.args.seed, self.spec["batches"], edges_sql
            )
        return time.perf_counter() - t0

    # -- ops -----------------------------------------------------------------
    def _group(self, pass_no: int, op: str, part: str) -> str:
        return f"pb:{pass_no}:{op}:{part}"

    def run_query(self, name: str, pass_no: int, check: bool, traced: bool) -> dict:
        sc = self.spark.sparkContext
        rec = new_record(pass_no, name)
        sf = wl.DATA_DIR
        sc.setJobGroup(self._group(pass_no, name, "build"), name)
        t0 = time.perf_counter()
        df = phase("build", self.queries[name], self.spark, sf)
        t1 = time.perf_counter()
        phase("plan", lambda: df._jdf.queryExecution().executedPlan())
        t2 = time.perf_counter()
        sc.setJobGroup(self._group(pass_no, name, "exec"), name)
        if check:
            rows = phase("exec", df.collect)
            self.check_digest(name, wl.digest_rows(df.columns, [tuple(r) for r in rows]))
        else:
            phase("exec", lambda: df.write.format("noop").mode("overwrite").save())
        t3 = time.perf_counter()
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, total_s=t3 - t0)
        if traced:
            ph = plan_phases(df)
            rec.update(
                plan_analysis_s=ph["analysis"],
                plan_optimization_s=ph["optimization"],
                plan_planning_s=ph["planning"],
            )
            self.add_jobs(rec, pass_no, name)
        if check and name == "od_fractions":
            self.od_fraction_rows = [r.asDict() for r in rows]
        return rec

    def add_jobs(self, rec: dict, pass_no: int, name: str) -> None:
        self.status.drain()
        b = self.status.totals(self.status.group_jobs(self._group(pass_no, name, "build")))
        e = self.status.totals(self.status.group_jobs(self._group(pass_no, name, "exec")))
        rec.update(build_jobs=b["jobs"], build_stages=b["stages"], build_tasks=b["tasks"])
        rec.update({("exec_" + k if k in ("jobs", "stages", "tasks", "task_s", "gc_s") else k): e[k]
                    for k in STAGE_KEYS})

    def run_siar(self, pass_no: int, check: bool, traced: bool) -> dict:
        from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sim import (
            fit_siar,
        )

        name = "siar_fit"
        rec = new_record(pass_no, name)
        if not hasattr(self, "siar"):
            rows = getattr(self, "od_fraction_rows", None)
            if rows is None:  # od_fractions failed or is not in the workload
                rows = [r.asDict() for r in self.queries["od_fractions"](self.spark, wl.DATA_DIR).collect()]
            self.siar = wl.siar_inputs(rows, self.args.seed)
        init, hourly, mij, observed, planted = self.siar
        group = self._group(pass_no, name, "sim")
        self.spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        best, loss, _ = phase(
            "exec", fit_siar, self.spark, observed, wl.SIAR_GRID, init, hourly, wl.SIAR_STEPS, mij
        )
        t1 = time.perf_counter()
        rec.update(sim_s=t1 - t0, total_s=t1 - t0)
        if traced:
            self.status.drain()
            rec["sim_tasks"] = self.status.totals(self.status.group_jobs(group))["tasks"]
        if check and (tuple(best) != tuple(planted) or not loss < 1e-9):
            raise OpFailed("check", AssertionError(f"fit {best} loss {loss}, planted {planted}"))
        return rec

    def check_digest(self, name: str, got: str) -> None:
        want = self.expected.get(name)
        if got != want:
            raise OpFailed("check", AssertionError(f"digest {got[:12]} != expected {str(want)[:12]}"))

    def run_op(self, name: str, pass_no: int, check: bool, traced: bool) -> dict:
        self.attempted += 1
        if traced:
            self.sources.reset()
        try:
            if name == "siar_fit":
                rec = self.run_siar(pass_no, check, traced)
            else:
                rec = self.run_query(name, pass_no, check, traced)
        except OpFailed as f:
            rec = self.fail(pass_no, name, f.phase, f.exc)
        if traced:
            rec.update(self.sources.counts)
        print(f"perfbench: pass {pass_no} {name} {rec['total_s']:.3f}s", file=sys.stderr)
        return rec

    def fail(self, pass_no: int, name: str, phase_name: str, exc: BaseException) -> dict:
        rec = new_record(pass_no, name)
        rec.update(ok=False, failed_phase=phase_name, error=type(exc).__name__)
        self.failures.append(
            {"pass": pass_no, "op": name, "phase": phase_name, "error": type(exc).__name__,
             "message": str(exc)[:500]}
        )
        print(f"perfbench: {name} failed in {phase_name}: {type(exc).__name__}: {str(exc)[:300]}",
              file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr, limit=4)
        return rec

    # -- passes --------------------------------------------------------------
    def run_ops(self, pass_no: int, check: bool, traced: bool) -> list[dict]:
        recs = []
        for name in wl.pass_order(self.spec["ops"], self.args.seed, pass_no):
            if name != "stream_ingest":
                recs.append(self.run_op(name, pass_no, check, traced))
                continue
            try:
                recs.extend(self.stream_ingest(pass_no, check, traced))
            except Exception as e:  # a stream that cannot start or stop
                self.attempted += 1
                recs.append(self.fail(pass_no, name, "merge", e))
        return recs

    def stream_ingest(self, pass_no: int, check: bool, traced: bool) -> list[dict]:
        """Feed the staged files closed-loop, one file per trigger, to
        the occupancy stream and the partitioned OD stream, both writing
        fresh tables; with ``check``, compare the final tables."""
        from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
            IncrementalCountTable,
            PartitionedIncrementalCountTable,
            incremental_occupancy_stream,
            incremental_od_stream,
        )

        base = os.path.join(self.run_dir, "stream", f"p{pass_no}")
        d = {k: os.path.join(base, k) for k in
             ("src_occ", "src_od", "tbl_occ", "tbl_od", "ckpt_occ", "ckpt_od")}
        os.makedirs(d["src_occ"])
        os.makedirs(d["src_od"])
        streams = [
            ("occupancy_stream", "pings", d["src_occ"], d["tbl_occ"],
             incremental_occupancy_stream(self.spark, d["src_occ"], d["tbl_occ"], d["ckpt_occ"])),
            ("od_stream", "edges", d["src_od"], d["tbl_od"],
             incremental_od_stream(self.spark, d["src_od"], d["tbl_od"], d["ckpt_od"],
                                   partitioned=True)),
        ]
        recs = []
        try:
            for i, batch in enumerate(self.staged):
                for name, kind, src, tbl, q in streams:
                    recs.append(self.stream_batch(pass_no, f"{name}:{i}", q, batch[kind], src, tbl, traced))
        finally:
            for *_, q in streams:
                q.stop()
        if check:
            occ = IncrementalCountTable(self.spark, d["tbl_occ"], ["region_id", "hour"]).read()
            od = PartitionedIncrementalCountTable(
                self.spark, d["tbl_od"], ["hour", "orig", "dest"], partition_col="hour"
            ).read()
            for name, df in (("occupancy_stream", occ), ("od_stream", od)):
                self.attempted += 1
                try:
                    self.check_digest(name, wl.digest_rows(df.columns, [tuple(r) for r in df.collect()]))
                except OpFailed as f:
                    self.fail(pass_no, name, f.phase, f.exc)
        return recs

    def stream_batch(self, pass_no, name, q, staged_path, src, tbl, traced) -> dict:
        self.attempted += 1
        rec = new_record(pass_no, name)
        before = _files(tbl) if traced else None
        n_progress = len(q.recentProgress)
        jobs_before = set(self.status.group_jobs(str(q.runId))) if traced else None
        t0 = time.perf_counter()
        try:
            os.link(staged_path, os.path.join(src, os.path.basename(staged_path)))
            phase("merge", q.processAllAvailable)
            if q.exception() is not None:
                raise OpFailed("merge", RuntimeError(str(q.exception())))
        except OpFailed as f:
            return self.fail(pass_no, name, f.phase, f.exc)
        t1 = time.perf_counter()
        rec.update(total_s=t1 - t0)
        if traced:
            progress = q.recentProgress[n_progress:]
            rec["stream_merge_s"] = sum(
                p["durationMs"].get("addBatch", 0) for p in progress
            ) / 1000.0
            self.status.drain()
            rec["stream_jobs"] = len(set(self.status.group_jobs(str(q.runId))) - jobs_before)
            after = _files(tbl)
            rec["stream_bytes_written"] = sum(sz for p, sz in after.items() if p not in before)
            rec["stream_input_bytes"] = os.path.getsize(staged_path)
        print(f"perfbench: pass {pass_no} {name} {rec['total_s']:.3f}s", file=sys.stderr)
        return rec

    def one_pass(self, pass_no: int, check: bool, traced: bool) -> tuple[float, list[dict]]:
        # the previous pass's stream tables are deleted outside the timing
        shutil.rmtree(os.path.join(self.run_dir, "stream"), ignore_errors=True)
        t0 = time.perf_counter()
        if traced:
            with self.sources.installed():
                recs = self.run_ops(pass_no, check, traced)
        else:
            recs = self.run_ops(pass_no, check, traced)
        return time.perf_counter() - t0, recs

    # -- the run -------------------------------------------------------------
    def execute(self) -> dict:
        self.start()
        gen_s = self.make_inputs()
        self.one_pass(0, check=True, traced=False)
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        plain, traced_passes = [], []
        t_measure = time.perf_counter()
        pass_no = 1
        while True:
            traced = bool(self.args.trace) and pass_no % 2 == 0
            dt, recs = self.one_pass(pass_no, check=False, traced=traced)
            if traced:
                traced_passes.append((dt, recs))
                self.records.extend(recs)
            else:
                plain.append(dt)
                self.op_times.extend(r["total_s"] for r in recs if r["ok"])
            pass_no += 1
            # at least two passes of each kind that is measured
            done = time.perf_counter() - t_measure >= self.args.seconds
            if done and len(plain) >= 2 and (not self.args.trace or len(traced_passes) >= 2):
                break

        failed = len(self.failures)
        result = {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
        }
        if self.args.trace:
            metrics = self.layer_metrics(plain, traced_passes)
            with open(os.path.join(self.run_dir, "trace.jsonl"), "w") as f:
                for r in self.records:
                    f.write(json.dumps(r) + "\n")
        else:
            metrics = self.end_to_end(setup_s, plain)
        result["metrics"] = metrics
        with open(os.path.join(self.run_dir, "failures.json"), "w") as f:
            json.dump(self.failures, f, indent=1)
        return result

    def end_to_end(self, setup_s: float, passes: list[float]) -> dict:
        q = statistics.quantiles(self.op_times, n=10, method="inclusive") if len(self.op_times) > 1 else [0.0] * 9
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(passes),
            "op_p50_s": statistics.median(self.op_times) if self.op_times else 0.0,
            "op_p90_s": q[8],
            "ok_frac": 1.0 - len(self.failures) / self.attempted,
            "peak_rss_mb": self.peak_rss_mb(),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def peak_rss_mb(self) -> float:
        """Driver JVM VmHWM plus this process's maximum resident set."""
        jvm_kb = 0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def layer_metrics(self, plain: list[float], traced_passes) -> dict:
        per_pass = [pass_totals(recs, self.cores) for _, recs in traced_passes]
        values = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        values["session.start_s"] = self.session_s
        values["trace.overhead_s"] = (
            statistics.median(dt for dt, _ in traced_passes) - statistics.median(plain)
        )
        return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def pass_totals(recs: list[dict], cores: int) -> dict:
    """Per-layer totals of one traced pass."""
    s = lambda k: sum(r[k] for r in recs)  # noqa: E731
    stream = [r for r in recs if r["stream_input_bytes"]]
    exec_s = s("exec_s")
    return {
        "sources.load_s": s("sources_s"),
        "sources.scan_tasks": s("scan_tasks"),
        "sources.scan_bytes": s("scan_bytes"),
        "sources.fan_out_fired": s("fan_out_fired"),
        "build.s": s("build_s"), "build.jobs": s("build_jobs"),
        "build.stages": s("build_stages"), "build.tasks": s("build_tasks"),
        "plan.s": s("plan_s"), "plan.analysis_s": s("plan_analysis_s"),
        "plan.optimization_s": s("plan_optimization_s"), "plan.planning_s": s("plan_planning_s"),
        "exec.s": exec_s, "exec.jobs": s("exec_jobs"), "exec.stages": s("exec_stages"),
        "exec.tasks": s("exec_tasks"), "exec.task_s": s("exec_task_s"),
        "exec.busy_frac": s("exec_task_s") / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_read_bytes": s("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": s("shuffle_write_bytes"),
        "exec.gc_s": s("exec_gc_s"),
        "streaming.batch_s": sum(r["total_s"] for r in stream),
        "streaming.merge_s": s("stream_merge_s"),
        "streaming.merge_jobs": s("stream_jobs"),
        "streaming.bytes_written": s("stream_bytes_written"),
        "streaming.write_amp": (
            s("stream_bytes_written") / s("stream_input_bytes") if stream else 0.0
        ),
        "sim.fit_s": s("sim_s"), "sim.sweep_tasks": s("sim_tasks"),
    }


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
