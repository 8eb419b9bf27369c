"""Spans and counters recorded from the benchmark's side of each layer.

Nothing inside the package is instrumented. ``Tracer.wrap`` replaces a
module attribute (a public function) with a wrapper that records a span
around every call, and restores it on ``close``. Because modules call each
other through names they imported (``pipeline`` calls its own
``merge_into_parquet`` binding), the wrapper is installed on the binding
the caller actually looks up.

Spans are kept in memory. A span's self time is its duration minus the
part of it covered by its child spans.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. A disabled tracer records nothing and wraps nothing,
    so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                  op=self.op)
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr``. ``before(args, kwargs)`` runs ahead of the span and
        its return value is handed to ``after(span, state, result)``, which
        runs once the span has closed; neither is counted in the span."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with self.span(name) as sp:
                result = original(*args, **kwargs)
            if after:
                after(sp, state, result)
            return result

        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def close(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, index: int) -> float:
        sp = self.spans[index]
        covered = sum(c.duration for c in self.spans if c.parent == index)
        return sp.duration - covered


class JobCounter:
    """Jobs, stages and tasks of one Spark job group, read from the status
    tracker. The benchmark sets one job group per operation."""

    def __init__(self, sc):
        self.sc = sc

    def counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                stages += 1
                tasks += stage.numTasks
                failed += stage.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def jvm_snapshot(spark) -> dict[str, float]:
    """GC time (s), JIT compile time (s), loaded classes and metaspace (MB)
    of the driver JVM, from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    metaspace = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            metaspace = pool.getUsage().getUsed()
    return {
        "gc_s": gc_ms / 1000.0,
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "loaded_classes": float(mf.getClassLoadingMXBean().getLoadedClassCount()),
        "metaspace_mb": metaspace / 2**20,
    }


def jvm_delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}
