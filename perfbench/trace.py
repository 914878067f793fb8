"""Per-layer tracing from the benchmark's own files.

``Tracer.patch(module, name, layer)`` replaces the attribute a caller
resolves (``runner.bucketed_probe_stats``, ``convstate.write_state``,
...) with a wrapper that records a span and points the calling thread's
Spark job group at ``<op>|<layer>|construct``. When the outermost span
of a thread returns, the group moves to ``<op>|<layer>|exec`` and stays
there until the next span starts, so the jobs that execute the plan a
layer returned (the runner's ``.collect()`` right after the call) are
still charged to that layer. Job groups are thread-local properties and
add no job; ``Tracer.jobs`` reads the job ids back from the public
``statusTracker``.

Stage metrics (executor run time, shuffle bytes, spill, task-time skew)
come from the application status store, a private Spark member reached
through py4j. When it is missing, ``Tracer.store`` is None and the
metrics that need it are left out.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass

MB = 1 << 20


@dataclass
class Span:
    op: str
    layer: str
    name: str
    t0: float
    t1: float
    parent: str | None
    count: int | None = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def status_store(sc):
    """The private AppStatusStore, or None when this Spark build does
    not expose it (then stage metrics drop out)."""
    from py4j.protocol import Py4JError

    try:
        store = sc._jsc.sc().statusStore()
        store.applicationInfo()
    except Py4JError:
        return None
    return store


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.store = status_store(self.sc)
        self.spans: list[Span] = []
        self.op = "idle"
        self.groups: dict[str, set[str]] = {}
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- job groups -------------------------------------------------------

    def set_group(self, layer: str, phase: str) -> None:
        g = f"{self.op}|{layer}|{phase}"
        self.groups.setdefault(self.op, set()).add(g)
        self.sc.setJobGroup(g, g)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def untagged_jobs(self) -> set[int]:
        return set(self.status.getJobIdsForGroup(None))

    def jobs(self, op: str, layer: str | None = None,
             phase: str | None = None) -> list[int]:
        out: list[int] = []
        for g in sorted(self.groups.get(op, ())):
            _, lay, ph = g.split("|")
            if (layer is None or lay == layer) and (phase is None or ph == phase):
                out.extend(self.status.getJobIdsForGroup(g))
        return out

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[str]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def patch(self, module, name: str, layer: str, count=None) -> None:
        """Wrap ``module.name``; ``count(result)`` optionally records a
        work count on the span (e.g. files returned)."""
        fn = getattr(module, name)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            stack.append(layer)
            tracer.set_group(layer, "construct")
            t0 = time.perf_counter()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append(Span(
                    tracer.op, layer, name, t0, t1, parent,
                    count(out) if count is not None else None,
                ))
                if parent is None:
                    tracer.set_group(layer, "exec")
                else:
                    tracer.set_group(parent, "construct")

        setattr(module, name, traced)
        self._patched.append((module, name, fn))

    def unpatch(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def span_seconds(self, op: str, layer: str, names=None) -> float:
        return sum(
            s.seconds for s in self.spans
            if s.op == op and s.layer == layer and (names is None or s.name in names)
        )

    def span_count(self, op: str, layer: str) -> int:
        return sum(s.count or 0 for s in self.spans if s.op == op and s.layer == layer)

    # -- stage metrics ------------------------------------------------------

    def stage_metrics(self, job_ids) -> dict:
        """Totals over the stages that ran for ``job_ids``. Stage ids
        shared by several jobs are counted once; skipped stages are not
        counted."""
        stages: set[int] = set()
        for j in job_ids:
            info = self.status.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        m = {"stages": 0, "tasks": 0}
        if self.store is not None:
            m.update(executor_s=0.0, shuffle_mb=0.0, spill_mb=0.0, task_skew=1.0)
        heaviest = None
        for s in sorted(stages):
            info = self.status.getStageInfo(s)
            if info is None or info.numCompletedTasks == 0:
                continue
            m["stages"] += 1
            m["tasks"] += info.numCompletedTasks
            if self.store is None:
                continue
            sd = self.store.lastStageAttempt(s)
            run_ms = sd.executorRunTime()
            m["executor_s"] += run_ms / 1000
            m["shuffle_mb"] += sd.shuffleWriteBytes() / MB
            m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            if heaviest is None or run_ms > heaviest[1]:
                heaviest = (sd, run_ms)
        if heaviest is not None:
            m["task_skew"] = self._task_skew(heaviest[0])
        return m

    def _task_skew(self, sd) -> float:
        """Slowest task / median task of one stage (1.0 = even)."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self.store.taskSummary(sd.stageId(), sd.attemptId(), qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        p50, p100 = run.apply(0), run.apply(1)
        return p100 / p50 if p50 > 0 else 1.0


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (local mode: driver and
    executors share it)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def retained_heap_mb(spark, rounds: int = 3) -> float:
    """Driver heap in use after full collections: the least of
    ``rounds`` readings, each after a GC and a pause in which Spark's
    ContextCleaner drops the broadcast and checkpoint blocks whose owners
    the previous collection freed."""
    jl = spark._jvm.java.lang
    rt = jl.Runtime.getRuntime()
    used = []
    for _ in range(rounds):
        jl.System.gc()
        time.sleep(0.25)
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / MB
