"""Spans, Spark job counters and the statistics the benchmark reports.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span, ``op`` the id of the timed operation it belongs to.
Spans are kept in memory and written as JSON once a traced run ends.
Job, stage and task counts come from Spark's public status tracker,
read for the job group the benchmark set around each layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    durations of its direct children."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.seconds
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.name] += s.seconds - child[i]
    return dict(out)


def percentile_reportable(n_samples: int, q: float, beyond: int = 10) -> bool:
    """A q-quantile is reported only when at least ``beyond`` samples
    lie above it, i.e. n * (1 - q) >= beyond."""
    return round(n_samples * (1.0 - q), 9) >= beyond


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# The JVM's own services, whose share of a run of seconds is a lottery:
# the JIT compiled for longer than the timed window lasted, and whether
# a G1 concurrent marking cycle fell in the window split runs of one
# query set into two groups whose CPU seconds differed by half.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread", "G1 ")


def threads_cpu_s(root_pid: int, names: tuple[str, ...]) -> float:
    """CPU seconds used so far by the live threads, in ``root_pid`` and
    the processes below it, whose name starts with one of ``names``."""
    return _thread_ticks(_tree(root_pid), names) / os.sysconf("SC_CLK_TCK")


def program_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every process below it
    (for the benchmark: the driver, its JVM and the JVM's Python
    workers), including children that have exited and been reaped, less
    the CPU of the JVM's JIT compiler and garbage collector threads.
    Time the host took the CPU away (steal) is not charged."""
    tree = _tree(root_pid)
    ticks = sum(t for _, t in tree) - _thread_ticks(tree, JIT_THREADS + GC_THREADS)
    return ticks / os.sysconf("SC_CLK_TCK")


def _thread_ticks(tree: list[tuple[int, int]], names: tuple[str, ...]) -> int:
    ticks = 0
    for pid, _ in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process has ended
            continue
        for tid in tids:
            fields = _stat(f"/proc/{pid}/task/{tid}/stat", names)
            if fields is not None:
                ticks += int(fields[11]) + int(fields[12])
    return ticks


def _tree(root_pid: int) -> list[tuple[int, int]]:
    """(pid, CPU ticks of it and its reaped children) for ``root_pid``
    and every process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(f"/proc/{entry}/stat")
        if fields is None:  # the process ended while we listed /proc
            continue
        pid = int(entry)
        children[int(fields[1])].append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append((pid, ticks.get(pid, 0)))
        stack.extend(children[pid])
    return out


def _stat(path: str, names: tuple[str, ...] | None = None) -> list[str] | None:
    """The fields after the command name of a /proc stat file; None if
    it is gone or, given ``names``, its command does not start with one."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    comm, rest = text[text.index("(") + 1 :].rsplit(")", 1)
    if names is not None and not comm.startswith(names):
        return None
    return rest.split()


@dataclass(frozen=True)
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __add__(self, other: "JobCounts") -> "JobCounts":
        return JobCounts(
            self.jobs + other.jobs,
            self.stages + other.stages,
            self.tasks + other.tasks,
            self.failed_tasks + other.failed_tasks,
        )


def wait_for_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status tracker has seen the last job end."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(sc, group: str) -> JobCounts:
    """Jobs of ``group`` and the stages and tasks they ran. Stages that
    were skipped (their shuffle output reused) count as not run."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = failed = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is None or sid in stages:
                continue
            if stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue
            stages.add(sid)
            tasks += stage.numCompletedTasks
            failed += stage.numFailedTasks
    return JobCounts(len(jobs), len(stages), tasks, failed)
