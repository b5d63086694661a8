"""Spans at the benchmark's call sites into the engine, plus Spark's own
per-job and per-stage accounting.

The tracer lives entirely in the benchmark: it wraps public functions at
module boundaries (``Tracer.wrap``) or times a block (``Tracer.span``),
keeps every span in memory, and writes them out once at exit.  A span
may also open a Spark job group named ``<workload>:<op>:<span>`` so the
jobs its block fires are attributed to it.

With tracing off (``Tracer(enabled=False)``) ``span`` is a null context
and ``wrap`` patches nothing, so the untraced run pays no cost.
``SparkJobs`` works either way: it reads the status store after an op.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, workload: str, enabled: bool) -> None:
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.active = enabled  # spans record only while active
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = {}
        self.op = -1
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans
    def begin_op(self, op: int) -> None:
        self.op = op

    def span(self, name: str, group: bool = False):
        if not self.active:
            return contextlib.nullcontext()
        return self._span(name, group)

    @contextlib.contextmanager
    def _span(self, name: str, group: bool):
        t0 = time.perf_counter()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(Span(self.op, name, parent, t0))
            self._stack.append(idx)
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            self.sc.setJobGroup(self.group(name), name)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            if group:
                if prev:
                    self.sc.setJobGroup(prev, prev)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans[idx].end = t2
                self._stack.remove(idx)
            self.self_s += (t1 - t0) + (time.perf_counter() - t2)

    def group(self, name: str, op: int | None = None) -> str:
        return f"{self.workload}:{self.op if op is None else op}:{name}"

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            key = (self.op, name)
            self.counts[key] = self.counts.get(key, 0) + n

    def wrap(self, owner: object, attr: str, name: str, group: bool = False, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (restored by
        ``close``).  ``after(result, args, kwargs)`` runs outside the span
        and may record counts."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self._span(name, group):
                out = orig(*args, **kwargs)
            self.count(name + ".calls")
            if after is not None:
                t = time.perf_counter()
                after(out, args, kwargs)
                self.self_s += time.perf_counter() - t
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ queries
    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def total(self, op: int, name: str) -> float:
        return sum(s.dur for s in self.op_spans(op) if s.name == name)

    def calls(self, op: int, name: str) -> float:
        return self.counts.get((op, name + ".calls"), 0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(
                    {"op": s.op, "name": s.name, "parent": s.parent,
                     "start": round(s.start, 6), "dur": round(s.dur, 6)}
                ) + "\n")


@dataclass
class JobStats:
    """What the status store says about a run of Spark jobs."""

    durations: list[float] = field(default_factory=list)
    by_group: dict[str, int] = field(default_factory=dict)
    stages: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0

    @property
    def jobs(self) -> int:
        return len(self.durations)


class SparkJobs:
    """Reads Spark's status store for the jobs fired since the last call.
    Job ids are monotonic and one closed-loop client runs at a time, so
    "every job newer than the cursor" is exactly one op's jobs."""

    def __init__(self, sc) -> None:
        self.store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)
        self.cursor = self._latest()

    def _latest(self) -> int:
        seq = self.store.jobsList(None)
        return seq.apply(0).jobId() if seq.size() else -1

    def since(self, with_stages: bool = False) -> JobStats:
        """Stats for the jobs newer than the cursor; advances the cursor."""
        seq = self.store.jobsList(None)  # newest first
        out = JobStats()
        stage_ids: set[int] = set()
        newest = self.cursor
        for k in range(seq.size()):
            j = seq.apply(k)
            jid = j.jobId()
            if jid <= self.cursor:
                break
            newest = max(newest, jid)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out.durations.append((done.get().getTime() - sub.get().getTime()) / 1000.0)
            g = j.jobGroup()
            if g.isDefined():
                out.by_group[g.get()] = out.by_group.get(g.get(), 0) + 1
            if with_stages:
                ids = j.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
        self.cursor = newest
        for sid in stage_ids:
            try:
                attempts = self.store.stageData(sid, False, self._empty, False, self._no_q)
            except Py4JJavaError:  # skipped stages never reach the store
                continue
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.task_run_s += sd.executorRunTime() / 1000.0
                out.gc_s += sd.jvmGcTime() / 1000.0
                out.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
        return out
