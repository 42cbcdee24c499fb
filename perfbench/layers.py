"""Per-layer tracing from outside the package.

Two probes, both installed by the benchmark only for traced passes:

- :class:`StatusReader` reads Spark's own status store (it works with
  ``spark.ui.enabled=false``): the jobs of a job group, and per stage
  the task count, executor run time, GC time, input bytes and shuffle
  bytes. The store keeps only the last 1,000 jobs and stages, so the
  benchmark reads each op's jobs right after the op.
- :class:`SourcesTracer` wraps the ``sources`` functions that
  ``__spark_entry__`` calls (``load_table``, ``events_as_pings``,
  ``fan_out_small_scan``) to time the outermost calls and count the
  fan-out decisions.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_KEYS = (
    "jobs", "stages", "tasks", "task_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "scan_tasks", "scan_bytes",
)


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just ended."""
        self._bus.waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> dict:
        """Counts and stage metrics summed over ``job_ids`` (stages
        shared by two jobs, or skipped, count once / not at all)."""
        out = dict.fromkeys(STAGE_KEYS, 0)
        out["jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.stageAttempt(
                    sid, 0, False, self._no_status, False, self._no_quantiles
                )._1()
                if sd.status().toString() == "SKIPPED":
                    continue
                n = sd.numTasks()
                out["stages"] += 1
                out["tasks"] += n
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                if sd.inputBytes() > 0:
                    out["scan_tasks"] += n
                    out["scan_bytes"] += sd.inputBytes()
        return out


def plan_phases(df) -> dict:
    """Catalyst phase durations (seconds) from the QueryPlanningTracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


class SourcesTracer:
    """Times the outermost sources calls made through ``entrymod``."""

    NAMES = ("load_table", "events_as_pings", "fan_out_small_scan")

    def __init__(self, entrymod):
        self._mod = entrymod
        self._orig = {n: getattr(entrymod, n) for n in self.NAMES}
        self._depth = 0
        self.reset()

    def reset(self) -> None:
        self.counts = {"sources_s": 0.0, "fan_out_fired": 0, "fan_out_skipped": 0}

    def _wrap(self, name):
        fn = self._orig[name]

        def timed(*args, **kwargs):
            self._depth += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.counts["sources_s"] += time.perf_counter() - t0
            if name == "fan_out_small_scan":
                fired = out is not args[0]
                self.counts["fan_out_fired" if fired else "fan_out_skipped"] += 1
            return out

        return timed

    @contextmanager
    def installed(self):
        for n in self.NAMES:
            setattr(self._mod, n, self._wrap(n))
        try:
            yield self
        finally:
            for n, fn in self._orig.items():
                setattr(self._mod, n, fn)
