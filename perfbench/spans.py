"""Spans, Spark event-log counts and process-tree RSS.

Spans are taken in the benchmark's own code around each call into the
engine. With tracing on, each span also tags the Spark jobs it launches
with ``sc.setJobDescription("<workload>:<span>#<id>")``, and the event
log (the session's ``SPARK_GRAFT_EVENTLOG`` hook) is read back after the
session stops to count jobs, tasks, busy time, scheduler wait and bytes
per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans always (two clock reads each); tags Spark jobs only
    when ``tag_jobs`` is on."""

    def __init__(self, sc, workload: str, tag_jobs: bool):
        self.sc = sc
        self.workload = workload
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _describe(self, s: Span | None) -> None:
        if self.tag_jobs:
            self.sc.setJobDescription(
                None if s is None else f"{self.workload}:{s.name}#{s.sid}"
            )

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent.sid if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._describe(parent)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def self_time_table(self) -> list[tuple[str, int, float, float]]:
        """(name, calls, total wall s, self s): self time is the span's wall
        minus the part covered by its direct child spans."""
        kids = self.children()
        acc: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for s in self.spans:
            a = acc[s.name]
            a[0] += 1
            a[1] += s.wall
            a[2] += s.wall - sum(c.wall for c in kids.get(s.sid, ()))
        return sorted(((n, *v) for n, v in acc.items()), key=lambda r: -r[3])


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    sched_wait_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, o: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def _event_files(ev_dir: str) -> list[str]:
    """Event-log files in write order: a plain log, or the numbered
    ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory."""
    parts = []
    for d, _dirs, files in os.walk(ev_dir):
        for f in files:
            if f.startswith("events_"):
                parts.append((d, int(f.split("_")[1]), f))
            elif not f.startswith((".", "appstatus_")):
                parts.append((d, 0, f))
    return [os.path.join(d, f) for d, _n, f in sorted(parts)]


class EventLog:
    """Stages and jobs of a finished session's event log. A stage belongs
    to the span named in its job description (None when untagged, such as
    the jobs a streaming query tags itself); its scheduler wait is the gap
    from its submission to its first task launch."""

    def __init__(self, ev_dir: str):
        self.jobs: list[tuple[int | None, int]] = []  # (span id, submit ms)
        self.stages: dict[int, tuple[int | None, int, JobStats]] = {}
        first_launch: dict[int, int] = {}
        for path in _event_files(ev_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), first_launch)
        for stage, launch in first_launch.items():
            _, submit, st = self.stages[stage]
            st.sched_wait_s += max(0, launch - submit) / 1000

    @staticmethod
    def _span_of(props: dict | None) -> int | None:
        desc = (props or {}).get("spark.job.description") or ""
        head, _, sid = desc.rpartition("#")
        return int(sid) if head and sid.isdigit() else None

    def _event(self, e: dict, first_launch: dict[int, int]) -> None:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            self.jobs.append((self._span_of(e.get("Properties")), e.get("Submission Time") or 0))
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = (
                self._span_of(e.get("Properties")),
                info.get("Submission Time") or 0,
                JobStats(stages=1),
            )
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in self.stages:
            stage = e["Stage ID"]
            st, ti = self.stages[stage][2], e.get("Task Info", {})
            tm = e.get("Task Metrics") or {}
            st.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failed_tasks += 1
            launch = ti.get("Launch Time") or 0
            st.task_busy_s += ((ti.get("Finish Time") or launch) - launch) / 1000
            first_launch[stage] = min(first_launch.get(stage, launch), launch)
            st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)

    def for_spans(self, sids: set[int]) -> JobStats:
        out = JobStats(jobs=sum(1 for s, _ in self.jobs if s in sids))
        for s, _, st in self.stages.values():
            if s in sids:
                out.add(st)
        return out

    def in_window(self, t0: float, t1: float) -> JobStats:
        """Work submitted between two ``time.time()`` readings."""
        lo, hi = t0 * 1000, t1 * 1000
        out = JobStats(jobs=sum(1 for _, t in self.jobs if lo <= t <= hi))
        for _, t, st in self.stages.values():
            if lo <= t <= hi:
                out.add(st)
        return out


def proc_tree(root: int) -> dict[int, int]:
    """pid → resident bytes for ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
            kids[int(fields[1])].append(int(d))
            rss[int(d)] = int(fields[21]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in rss:
            out[p] = rss[p]
        todo.extend(kids.get(p, ()))
    return out


class RssSampler:
    """Peak resident set of this process and all its descendants (driver
    JVM and Python workers), sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, sum(proc_tree(os.getpid()).values()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
