"""Spans around the benchmark's calls into goka_spark, and the Spark
engine counters behind each traced op.

A ``Tracer`` is off for end-to-end runs: ``span`` then only yields.
When on, each span records (name, start, end, parent, op id) in
memory; the outermost span of an op also tags its Spark jobs with a
job group, and on exit reads those jobs' stages and task metrics from
Spark's status store (it answers with ``spark.ui.enabled=false``).
Everything is written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

ENGINE_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_ms",
    "task_skew",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        # children run on the same thread, one after another
        return self.dur - self.children_s


@dataclass
class Tracer:
    enabled: bool
    spark: Any = None
    spans: list[Span] = field(default_factory=list)
    engine: dict[str, dict] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _ops: int = 0

    @contextmanager
    def span(self, name: str, op: Optional[str] = None):
        """Time one call.  ``op`` names a top-level op whose Spark
        jobs are counted under ``engine[op]``."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        op_id = self.spans[parent].op if parent is not None else None
        group = None
        if op is not None and parent is None:
            self._ops += 1
            op_id = self._ops
            group = f"perfbench-{op_id}"
            self.spark.sparkContext.setJobGroup(group, op)
        s = Span(name, time.perf_counter(), parent=parent, op=op_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.dur
            if group is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.add_engine(op, engine_counters(self.spark, group, s.dur))

    def add_engine(self, op: str, counters: dict) -> None:
        acc = self.engine.setdefault(op, dict.fromkeys(ENGINE_COUNTERS + ("calls",), 0.0))
        acc["calls"] += 1
        for k, v in counters.items():
            acc[k] = max(acc[k], v) if k == "task_skew" else acc[k] + v

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def wrap_module(self, prefix: str, module: Any) -> None:
        """Trace every public function defined in ``module`` — calls
        from inside the module resolve through its globals and are
        traced too."""
        for n, fn in list(vars(module).items()):
            if (inspect.isfunction(fn) and not n.startswith("_")
                    and fn.__module__ == module.__name__):
                setattr(module, n, self.wrap(f"{prefix}.{n}", fn))

    def totals(self, since: int = 0) -> dict[str, dict]:
        """Per span name: calls, total and self seconds of the spans
        recorded from index ``since`` on."""
        out: dict[str, dict] = {}
        for s in self.spans[since:]:
            t = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["total_s"] += s.dur
            t["self_s"] += s.self_s
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [{"name": s.name, "start": s.start, "end": s.end,
                           "parent": s.parent, "op": s.op} for s in self.spans],
                "layers": self.totals(),
                "engine": self.engine,
            }, f, indent=1)


def engine_counters(spark: Any, group: str, wall_s: float) -> dict:
    """Jobs, stages, tasks and task metrics of one job group, from the
    status store.  ``driver_ms`` is the op's wall time with no job of
    the group running; ``task_skew`` is max over median task run time
    in the group's slowest stage."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    c = dict.fromkeys(ENGINE_COUNTERS, 0.0)
    intervals, slowest = [], None
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(job_id)
        c["jobs"] += 1
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            intervals.append((jd.submissionTime().get().getTime(),
                              jd.completionTime().get().getTime()))
        ids = jd.stageIds()
        for i in range(ids.size()):
            sd = store.lastStageAttempt(ids.apply(i))
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["executor_run_ms"] += sd.executorRunTime()
            c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            c["gc_ms"] += sd.jvmGcTime()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if slowest is None or sd.executorRunTime() > slowest.executorRunTime():
                slowest = sd
    busy, covered = 0, None  # union of the jobs' [submit, complete] in ms
    for a, b in sorted(intervals):
        if covered is not None and a < covered:
            a = covered
        busy += max(b - a, 0)
        covered = b if covered is None else max(covered, b)
    c["driver_ms"] = max(wall_s * 1000.0 - busy, 0.0)
    if slowest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(slowest.stageId(), slowest.attemptId(), q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            c["task_skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
    return c
