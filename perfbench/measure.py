"""Measurement helpers: process-tree accounting, in-memory spans and
Spark stage statistics read per job group.

Process tree: the benchmark's Python process, the JVM that
``spark-submit`` forks, and the Python worker daemon (plus the UDF
workers it forks and reuses) that the JVM forks.  The workers' CPU never
shows in the JVM's own counters, so CPU is summed over every live
process of the tree, each with the CPU of its already-reaped children
(``cutime``/``cstime``), which is where an exited worker's CPU lands.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the whole process tree, including
    children it has already reaped."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after ")" start at state (3); utime..cstime are 14..17
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set
    (VmHWM).  An upper bound on the tree's simultaneous peak that needs
    no sampling thread."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    id: int


@dataclass
class Tracer:
    """Spans kept in memory, written out once at the end of the run.
    A disabled tracer records nothing and costs one attribute check.
    At most one span (``bench.op``) is open at a time; spans added
    without a parent while it is open become its children."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _open: int | None = None

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        sid = len(self.spans)
        if parent is None:
            parent = self._open
        self.spans.append(Span(name, start, end, parent, sid))
        return sid

    def open(self, name: str) -> int:
        sid = self.add(name, time.time(), float("nan"))
        if self.enabled:
            self._open = sid
        return sid

    def close(self, sid: int) -> None:
        if self.enabled:
            self.spans[sid].end = time.time()
            self._open = None

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (parent: the open span)."""

        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, t0, time.time())

        return traced

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time(self, sid: int) -> float:
        span = self.spans[sid]
        return (span.end - span.start) - covered(self.children(sid), span.start, span.end)

    def to_json(self) -> list[dict]:
        return [
            {**s.__dict__, "self_s": self.self_time(s.id)} for s in self.spans
        ]


def covered(spans: list[Span], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``spans``."""
    total, cur_end = 0.0, lo
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(s.start, cur_end), min(s.end, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def machine_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot.  Steal is time
    the hypervisor gave this VM's CPUs to someone else; on a shared host
    the slow runs of a set are the ones with steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return sum(f), f[7]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, group: str) -> dict[str, float]:
    """Executor CPU, shuffle write, spill and task counts over every
    stage the job group ran, read from the status store (available with
    the UI disabled)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for jid in job_ids(spark, group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "tasks": 0}
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a skipped stage has no attempt
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["tasks"] += st.numCompleteTasks()
    return out
