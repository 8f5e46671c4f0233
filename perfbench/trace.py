"""Spans around calls into the engine's layers, with the Spark work
each span caused.

A span records its name, start, end, parent and thread. Entering a
span sets a Spark job group on the calling thread, so every job the
call launches carries the span's id; jobs launched on threads the
benchmark does not wrap (the engine's commit pool) carry no group and
are given to the innermost main-thread span that was open when they
were submitted. At the end of a run the jobs and their stages are
read from Spark's status store (``sc.statusTracker()`` and
``statusStore().lastStageAttempt``), which works with the UI off.

Spans are kept in memory and written out once, when the run ends.
With tracing off, ``span`` is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import self_time, union_length

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


@dataclass
class JobInfo:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


@dataclass
class StageInfo:
    id: int
    failed_tasks: int
    run_ms: float
    cpu_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    task_run_ms: list[float]


class Tracer:
    def __init__(self, spark, enabled: bool, cpu_probe=None):
        self.enabled = enabled
        # seconds of CPU outside Spark's own accounting (the Python
        # workers), read at span entry and exit
        self.cpu_probe = cpu_probe
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self.jobs: dict[int, JobInfo] = {}
        self.stages: dict[int, StageInfo] = {}
        self._job_span: dict[int, int] = {}

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a pool thread hangs under whatever the
        # main thread is inside (the cycle that started the pool)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sp = Span(
            next(self._ids), name, parent.id if parent else None,
            threading.get_ident(), time.time(), attrs=dict(attrs),
        )
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        cpu0 = self.cpu_probe() if self.cpu_probe else 0.0
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.cpu_probe:
                sp.attrs["py_cpu_s"] = self.cpu_probe() - cpu0
            stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)

    def in_span(self, prefix: str) -> bool:
        return any(s.name.startswith(prefix) for s in self._stack())

    def wrap(self, obj, attr: str, name: str, after=None) -> None:
        """Replace ``obj.attr`` with a traced twin. ``after(span,
        result)`` runs once the call returns, outside the span's
        clock. A call nested inside a span of the same name (a
        compaction that commits through the same table) is not
        counted twice."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.in_span(name):
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, out)
            return out

        setattr(obj, attr, traced)

    # -- Spark work per span -------------------------------------------------

    def collect_spark(self) -> None:
        """Read every job of every span (and the ungrouped jobs) from
        Spark's status store. Call once, after the measured work."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        by_group = {s.group: s.id for s in self.spans}
        ids = [(j, by_group[g]) for g in by_group
               for j in tracker.getJobIdsForGroup(g)]
        ids += [(j, None) for j in tracker.getJobIdsForGroup(None)]
        main_spans = sorted(
            (s for s in self.spans if s.thread == self._main),
            key=lambda s: s.end - s.start,
        )
        for jid, sid in sorted(ids):
            jd = store.job(jid)
            if not jd.completionTime().isDefined():
                continue
            job = JobInfo(
                jid,
                jd.jobGroup().get() if jd.jobGroup().isDefined() else None,
                jd.submissionTime().get().getTime() / 1000.0,
                jd.completionTime().get().getTime() / 1000.0,
                [int(s) for s in tracker.getJobInfo(jid).stageIds],
            )
            if sid is None:  # innermost main-thread span at submission
                sid = next(
                    (s.id for s in main_spans if s.start <= job.start <= s.end),
                    None,
                )
                if sid is None:
                    continue
            self.jobs[jid] = job
            self._job_span[jid] = sid
            for st in job.stages:
                if st not in self.stages:  # a reused stage counts once
                    self.stages[st] = self._stage(store, st)

    @staticmethod
    def _stage(store, sid: int) -> StageInfo:
        sd = store.lastStageAttempt(sid)
        tasks = store.taskList(sid, sd.attemptId(), 100000)
        run = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                run.append(float(m.get().executorRunTime()))
        return StageInfo(
            sid, sd.numFailedTasks(),
            float(sd.executorRunTime()), sd.executorCpuTime() / 1e6,
            sd.shuffleReadBytes(), sd.shuffleWriteBytes(),
            sd.memoryBytesSpilled() + sd.diskBytesSpilled(), run,
        )

    def descendants(self, span: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [span.id]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out

    def jobs_of(self, span: Span) -> list[JobInfo]:
        """Jobs the span caused, its descendants' included."""
        ids = {span.id} | {s.id for s in self.descendants(span)}
        return [j for jid, j in self.jobs.items() if self._job_span[jid] in ids]

    def work(self, span: Span) -> dict:
        """Spark totals of a span: jobs, executor run and CPU time, the
        Python workers' CPU, each task's run time, and driver time
        (span time that no job of the span covers)."""
        jobs = self.jobs_of(span)
        seen: set[int] = set()
        out = {"jobs": len(jobs), "run_ms": 0.0, "cpu_ms": 0.0}
        task_ms: list[float] = []
        for j in jobs:
            for st in j.stages:
                info = self.stages.get(st)
                if info is None or st in seen:
                    continue
                seen.add(st)
                out["run_ms"] += info.run_ms
                out["cpu_ms"] += info.cpu_ms
                task_ms.extend(info.task_run_ms)
        out["py_cpu_ms"] = span.attrs.get("py_cpu_s", 0.0) * 1000.0
        covered = union_length([
            (max(j.start, span.start), min(j.end, span.end))
            for j in jobs if j.end > span.start and j.start < span.end
        ])
        out["driver_s"] = (span.end - span.start) - covered
        out["task_run_ms"] = task_ms
        return out

    def self_s(self, span: Span) -> float:
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.id]
        return self_time(span.start, span.end, kids)

    def dump(self, path: str, meta: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            row = asdict(s)
            row["start"] = round(s.start - t0, 6)
            row["end"] = round(s.end - t0, 6)
            row["self_s"] = round(self.self_s(s), 6)
            jobs = [j for j, sid in self._job_span.items() if sid == s.id]
            row["jobs"] = sorted(jobs)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": rows}, fh, indent=1, default=str)
