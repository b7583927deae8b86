"""Spans and Spark-side counters, read from outside the engine.

A ``Tracer`` records a span around each op and each layer call the
benchmark makes (name, start, end, parent, op id) and keeps them in memory
until the run ends. When tracing is on, every op runs under its own Spark job
group; afterwards the job ids of that group lead to the stage data in Spark's
status store (``statusStore().lastStageAttempt``), which gives executor,
CPU, GC, shuffle, spill and peak-memory numbers per op. ``driver_ms`` is the
op's wall time minus the time covered by its jobs: the wait outside the
executors. Catalyst phase times come from
``queryExecution().tracker().phases()``.

With tracing off the tracer records nothing and sets no job group, so the
untraced run measures the same calls without the bookkeeping.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "peak_exec_mb",
    "driver_ms", "input_records",
)
MB = float(1 << 20)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = None
        self._n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; nests under the innermost open span."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self._op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, cls: str):
        """One op: a root span plus, when tracing, a Spark job group whose
        counters are read when the op ends."""
        if not self.enabled:
            yield None
            return
        self._n += 1
        self._op_id = f"op{self._n}"
        self.sc.setJobGroup(self._op_id, cls, False)
        t0 = time.perf_counter()
        try:
            with self.span(cls, cls=cls) as rec:
                yield rec
        finally:
            wall_ms = (time.perf_counter() - t0) * 1000.0
            self.sc._jsc.clearJobGroup()
            rec["spark"] = self.spark_counters(self._op_id, wall_ms)
            self._op_id = None

    def spark_counters(self, group: str, wall_ms: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime(),
                                  jd.completionTime().get().getTime()))
            for sid in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j wraps NoSuchElementException
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / MB
                out["peak_exec_mb"] = max(out["peak_exec_mb"],
                                          sd.peakExecutionMemory() / MB)
                out["input_records"] += sd.inputRecords()
        out["driver_ms"] = max(0.0, wall_ms - _covered_ms(intervals))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _covered_ms(intervals) -> float:
    """Length of the union of [start, end] intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning ms of an executed DataFrame."""
    out = {}
    ph = df._jdf.queryExecution().tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        o = ph.get(k)
        out[k] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


def plan_shape(df) -> dict:
    """Exchanges and join operators of the executed plan: the final adaptive
    plan only, without the plan of any cached relation it reads."""
    return count_operators(df._jdf.queryExecution().executedPlan().toString())


_PREFIX = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?")


def count_operators(plan: str) -> dict:
    out = {"exchanges": 0, "smj": 0, "shj": 0, "bhj": 0}
    skip_below = None
    for line in plan.splitlines():
        m = _PREFIX.match(line)
        indent, node = m.end(), line[m.end():]
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            break
        if node.startswith("InMemoryRelation"):
            skip_below = indent
        elif node.startswith(("Exchange ", "BroadcastExchange ",
                              "ReusedExchange ")):
            out["exchanges"] += 1
        elif node.startswith("SortMergeJoin"):
            out["smj"] += 1
        elif node.startswith("ShuffledHashJoin"):
            out["shj"] += 1
        elif node.startswith("BroadcastHashJoin"):
            out["bhj"] += 1
    return out
