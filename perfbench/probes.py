"""Measurement from outside the engine: spans, Spark counters, host probes.

Spans are recorded by the benchmark around its own calls into each
layer's public functions (name, start, end, parent, run id, operation)
and kept in memory until the run ends. Spark counters come from the
status tracker (the jobs of a job group) and the status store (per-stage
task count, task time, shuffle bytes, spill), read after the listener
bus has drained.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "task_time_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def totals(self, op: int | None) -> dict[str, float]:
        """Seconds per span name within one operation (None: set-up)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


class JobGroups:
    """Runs code under a unique Spark job group and reads its counters.
    A disabled instance sets no group."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = itertools.count()
        self.enabled = enabled

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        gid = f"perfbench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label, False)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counters(self, gid: str) -> dict[str, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(gid)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never submitted: no status-store entry
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_time_ms"] += sd.executorRunTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def job_floor_ms(spark, n: int = 20) -> float:
    """Median round trip of a warm one-row job."""
    times = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1000


def plan(df) -> None:
    """Force analysis, optimisation and physical planning of ``df``. The
    physical plan is kept by the DataFrame, so a following collect
    reuses it."""
    df._jdf.queryExecution().executedPlan()


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its Spark JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024


def load_avg() -> float:
    return os.getloadavg()[0]


def stop(spark) -> None:
    """Stop the session, then the Spark JVM this process launched, and
    wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
