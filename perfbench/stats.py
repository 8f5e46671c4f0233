"""Pure helpers of the benchmark: percentiles, the tail rule, the
operation log, interval unions and process-tree memory.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile, at or above the median, that
    leaves at least ten of ``n`` samples beyond it; None below 20
    samples, where not even the median qualifies."""
    best = None
    for p in range(50, 100):
        if n * (100 - p) >= 10 * 100:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, str]:
    """(value, label) of the tail rule. With fewer than 20 samples no
    percentile qualifies, so the maximum is reported as ``max``."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_time(
    start: float, end: float, children: list[tuple[float, float]]
) -> float:
    """Span time not covered by any child span; overlapping children
    (concurrent commits) are counted once."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool = True
    detail: str = ""
    label: str = ""


@dataclass
class OpLog:
    """Every operation of a run: a cycle, a probe or a query. An
    exception or a wrong output marks the operation failed."""

    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, seconds: float, ok: bool = True, detail: str = "") -> Op:
        op = Op(kind, seconds, ok, detail)
        self.ops.append(op)
        return op

    def times(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0


def pass_seconds(ops: list[Op], kinds: tuple[str, ...]) -> float:
    """Seconds of one unit of work made of medians: every distinct
    operation (kind and label: a leaf, a probe query, the cycle)
    counts once, at its median time over the run's measured units."""
    groups: dict[tuple[str, str], list[float]] = {}
    for o in ops:
        if o.kind in kinds:
            groups.setdefault((o.kind, o.label), []).append(o.seconds)
    return sum(median(v) for v in groups.values())


def closed_loop(seconds: float, run_one, clock=time.perf_counter) -> int:
    """Run ``run_one()`` back to back, one at a time. Each run starts
    only if the previous one's duration still fits in ``seconds``; the
    first always runs. Returns how many runs there were."""
    t0 = clock()
    last = 0.0
    n = 0
    while True:
        s = clock()
        if n and (s - t0) + last > seconds:
            return n
        run_one()
        n += 1
        last = clock() - s


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class RssSampler:
    """Samples the summed resident set of this process and all its
    descendants (the JVM and its Python workers) every ``period``
    seconds in a background thread; ``peak_mb`` is the largest sum."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for p in process_tree(os.getpid()):
            try:
                total += _rss_kb(p)
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def child_cpu_s(pid: int) -> float:
    """CPU seconds used by every process ``pid`` has started, live or
    exited: the live descendants' own and reaped-children times, plus
    the reaped-children times of ``pid`` itself. For the Spark JVM this
    is the Python workers' CPU, which Spark's executorCpuTime (JVM task
    threads only) does not include."""
    tick = os.sysconf("SC_CLK_TCK")
    try:
        f = _stat_fields(pid)
    except OSError:
        return 0.0
    total = int(f[13]) + int(f[14])  # cutime, cstime
    for p in process_tree(pid):
        if p == pid:
            continue
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total / 1e6
