"""Measurement taken from outside the program: spans around the calls into
each layer, JVM garbage-collection time, Spark stage-metric deltas and the
resident memory of the whole process tree (driver JVM and Python workers)."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from binlog_processer_spark.plans import iostat


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds
    (local mode runs all tasks in the one driver JVM)."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Tracer:
    """In-memory spans: name, start, end and parent, all sharing one trace
    id, plus row counts and, when asked for, the Spark stage-metric delta
    of the span (one status-store scan at each end, ~0.5 s once a few
    hundred stages are retained, so only where a metric needs it)."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, stages: bool = False):
        span_id = self._next_id
        self._next_id += 1
        rec = {
            "trace_id": self.trace_id,
            "span_id": span_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "counts": {},
        }
        self._stack.append(span_id)
        io0 = iostat.stage_totals(self.spark) if stages else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if stages:
                rec["stage"] = iostat.delta(io0, iostat.stage_totals(self.spark))
            self._stack.pop()
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        """The last finished span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec
        raise KeyError(name)

    def seconds(self, name: str) -> float:
        rec = self.get(name)
        return rec["end"] - rec["start"]


def write_spans(tracers: list[Tracer], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [s for tr in tracers for s in sorted(tr.spans, key=lambda r: r["start"])]
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as
    ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def host_cpu() -> list[int]:
    """Cumulative host CPU jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        # the command name may contain spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot JIT compiler threads of ``pid`` (0 for a
    process that has none)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            total += sum(int(x) for x in
                         _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue  # the thread ended while we looked
    return total


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """User + system CPU seconds of ``pid`` and its descendants, including
    their reaped children (exited Python workers), as (all threads but the
    JIT compiler's, the JIT compiler's). The JIT share is only attributable
    while the compiler threads live: the JVM runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = jit = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])
        except OSError:
            continue
        jit += _jit_ticks(p)
    return (total - jit) / tick, jit / tick


class Stopwatch:
    """Wall seconds, process-tree CPU seconds outside the JIT compiler, and
    the JIT compiler's CPU seconds since construction."""

    def __init__(self):
        self.pid = os.getpid()
        self.wall0 = time.perf_counter()
        self.cpu0, self.jit0 = tree_cpu_s(self.pid)

    def read(self) -> tuple[float, float, float]:
        cpu, jit = tree_cpu_s(self.pid)
        return (time.perf_counter() - self.wall0, cpu - self.cpu0,
                jit - self.jit0)


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread that samples the RSS of this process and all its
    descendants every ``interval`` seconds and keeps the peak since the
    last ``reset``."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 1e6
