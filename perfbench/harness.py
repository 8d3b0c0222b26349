"""Timing, tracing and reporting shared by the workloads.

Every timed call into the engine goes through :meth:`Run.op`, which
splits it into ``build`` (the call that returns a DataFrame, including
any eager jobs the call hides) and ``action`` (the collect), then checks
the answer outside the timed window.  A traced run also records one span
per op and per step, tags the op's Spark jobs with a job group and reads
job/stage/task counters from the status store right after the op.  An
untraced run sets no job group and reads no counters.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JJavaError


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n).  From 100 samples on, the highest
    percentile with at least ten samples beyond it (p90 or above).  Under
    100 samples that percentile would be a low one, so the maximum is
    reported instead: read it together with its sample count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 11 if n >= 100 else n - 1
    return float(s[i]), 100.0 * (i + 1) / n, n


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return size, files


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Tracer:
    """In-memory spans plus per-op Spark counters; written once at exit."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.spans: list[dict[str, Any]] = []
        self.counters: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextmanager
    def job_group(self, op_id: str, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def read_counters(self, op_id: str, wall_s: float) -> dict[str, float]:
        """Jobs, stages, tasks and task time of one job group.  Skipped
        stages (their shuffle output reused) count as neither stages nor
        tasks."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        c = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
             "task_cpu_s": 0.0, "shuffle_write_bytes": 0}
        for job_id in tracker.getJobIdsForGroup(op_id):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # never submitted: no attempt stored
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_run_s"] += sd.executorRunTime() / 1e3
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["slot_use"] = (
            c["task_run_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        )
        self.counters[op_id] = c
        return c

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller (perf_counter readings)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": None, "start": start - self._t0, "end": end - self._t0,
            })

    def write(self, path: str, extra: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "counters": self.counters, **extra}, f
            )


class Run:
    """One workload run: op records, failure tally and report."""

    def __init__(self, spark, traced: bool, corrupt_one: bool = False) -> None:
        self.spark = spark
        self.tracer = Tracer(spark, traced)
        #: self-test hook: hand one wrong answer to the checker
        self.corrupt_one = corrupt_one
        self.ops: list[dict[str, Any]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)
        print(f"[perfbench] FAILED {what}", file=sys.stderr)

    def op(
        self,
        kind: str,
        build: Callable[[], Any],
        check: Callable[[Any], bool] = lambda _out: True,
        timed: bool = True,
        action: Callable[[Any], Any] = lambda df: df.collect(),
        probe: Callable[[Any], dict[str, float]] | None = None,
    ) -> Any:
        """Run one op: ``build()`` returns a DataFrame (or, for a write, the
        call's result) and ``action`` finishes it, by default a collect;
        then ``check(out)`` runs untimed.  In a traced run ``probe(built)``
        adds figures read from the finished op (such as plan metrics) to
        its record.  A raised exception or a failed check counts as a
        failed op; the run goes on.  Untimed ops (warm-up) are checked
        but not recorded."""
        op_id = f"op{self.attempted}"
        self.attempted += 1
        rec: dict[str, Any] = {"kind": kind, "op": op_id, "ok": False}
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, op_id), \
                    self.tracer.job_group(op_id, kind):
                with self.tracer.span(kind + ".build", op_id):
                    built = build()
                t1 = time.perf_counter()
                with self.tracer.span(kind + ".action", op_id):
                    out = action(built)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0)
            if self.traced:
                rec.update(self.tracer.read_counters(op_id, t2 - t0))
                if probe is not None:
                    rec.update(probe(built))
            if self.corrupt_one and timed and isinstance(out, list):
                self.corrupt_one = False
                out = out[:-1]
            try:
                rec["ok"] = bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
            if not rec["ok"]:
                self.fail(f"{kind} {op_id}: wrong answer")
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{kind} {op_id}: {type(exc).__name__}")
            rec["total_s"] = time.perf_counter() - t0
        if timed:
            self.ops.append(rec)
        return out

    def timed(self, kind: str) -> list[dict[str, Any]]:
        return [r for r in self.ops if r["kind"] == kind and "build_s" in r]

    def layer(self, kind: str) -> dict[str, float]:
        """Median per-op figures of one op kind, keyed ``<kind>_s`` (the
        whole op), ``<kind>.build_s``/``.action_s`` and, in a traced run,
        every counter."""
        recs = self.timed(kind)
        out = {
            f"{kind}_s": median([r["total_s"] for r in recs]),
            f"{kind}.build_s": median([r["build_s"] for r in recs]),
            f"{kind}.action_s": median([r["action_s"] for r in recs]),
        }
        for key in ("jobs", "stages", "tasks", "task_cpu_s",
                    "shuffle_write_bytes", "slot_use"):
            out[f"{kind}.{key}"] = median([r[key] for r in recs if key in r])
        return out


def run_passes(
    seconds: float, nominal_pass_s: float, one_pass: Callable[[int], float]
) -> list[float]:
    """Closed loop over a fixed amount of work: as many passes as take
    ``seconds`` at ``nominal_pass_s`` each (at least one), so every run
    measures the same ops at the same point of the JVM's warm-up."""
    n = max(1, round(seconds / nominal_pass_s))
    return [one_pass(i) for i in range(n)]


@contextmanager
def stopwatch(out: dict[str, float], key: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        out[key] = out.get(key, 0.0) + time.perf_counter() - t0
