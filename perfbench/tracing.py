"""Span tracing from the benchmark's side of each layer boundary, and
per-op Spark accounting from the status store.

``Tracer.wrap`` swaps a public entry point (a module function or a class
method) for a recorder that opens a span around the call; ``restore``
puts the originals back. Spans (name, start, end, parent, op id, note)
stay in memory; ``self_times`` turns them into per-layer self time.
"""

from __future__ import annotations

import functools
import time
import types
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    note: object = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, op=self.op)
        self.spans.append(sp)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, note=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``note(result)`` may attach a note to the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def recorder(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
                if note is not None:
                    sp.note = note(result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, recorder)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def self_times(self) -> dict[tuple[int | None, str], float]:
        """Seconds of self time per (op, span name): each span's duration
        minus the part its direct children cover."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[tuple[int | None, str], float] = {}
        for i, sp in enumerate(self.spans):
            key = (sp.op, sp.name)
            out[key] = out.get(key, 0.0) + (sp.end - sp.start) - child[i]
        return out

    def calls(self) -> dict[tuple[int | None, str], int]:
        out: dict[tuple[int | None, str], int] = {}
        for sp in self.spans:
            out[(sp.op, sp.name)] = out.get((sp.op, sp.name), 0) + 1
        return out


def wrapper_cost_s(n: int = 20_000) -> float:
    """Seconds one traced call adds over a plain call, measured on a
    no-op function wrapped exactly as ``Tracer.wrap`` wraps entry points."""

    _Probe = types.SimpleNamespace(noop=lambda: None)
    t = Tracer()
    plain = _Probe.noop
    t0 = time.perf_counter()
    for _ in range(n):
        plain()
    base = time.perf_counter() - t0
    t.wrap(_Probe, "noop", "probe")
    traced = _Probe.noop
    t0 = time.perf_counter()
    for _ in range(n):
        traced()
    cost = time.perf_counter() - t0
    t.restore()
    return max(0.0, (cost - base) / n)


class SparkAccounting:
    """Jobs, stages, tasks, executor time, shuffle bytes and input rows of
    the Spark jobs an op submitted, plus driver-JVM GC time.

    Jobs are attributed by job-id range (ids are sequential per context),
    not by job group: the engine resets the job group on every collect it
    runs itself. Works with the UI disabled."""

    def __init__(self, spark) -> None:
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def mark(self) -> tuple[int, float]:
        """(next job id, cumulative GC ms): bracket an op with two marks."""
        return self._sc.dagScheduler().nextJobId(), self._gc_ms()

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def between(self, before: tuple[int, float], after: tuple[int, float]) -> dict:
        # the status store is fed by the listener bus: drain it first
        self._sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_bytes",
             "input_rows", "single_task_stages"),
            0.0,
        )
        out["gc_ms"] = after[1] - before[1]
        seen: set[int] = set()
        for job_id in range(before[0], after[0]):
            out["jobs"] += 1
            ids = self._store.job(job_id).stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["single_task_stages"] += st.numTasks() == 1
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["input_rows"] += st.inputRecords()
        return out
