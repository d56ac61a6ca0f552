"""Spans, Spark event-log attribution and memory sampling for the benchmark.

Spans are recorded in memory around the benchmark's own calls into the
package's public functions; nothing inside the package is instrumented.
Each span runs its Spark jobs under a job group of its own, so the task
metrics Spark writes to its event log can be attributed to the span after
the run (``attribute``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    job_id: int = 0
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder.  With ``sc`` given, every span also sets a
    Spark job group named after the span (restored on exit)."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    job_id: int = 0
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent=parent.group if parent else None, job_id=self.job_id)
        s.group = f"bench-{len(self.spans)}-{self.job_id}-{name}"
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class TaskTotals:
    tasks: int = 0
    failures: int = 0
    stages: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


def attribute(event_dir: str) -> dict[str, TaskTotals]:
    """Task metrics per job group, read from the Spark event log(s) in
    ``event_dir`` (written once the session has stopped)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, TaskTotals] = {}
    stages_seen: dict[str, set] = {}
    files = sorted(
        os.path.join(d, f) for d, _, names in os.walk(event_dir) for f in names
        if f.startswith(("events_", "local-", "app-"))
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for raw in fh:
                ev = json.loads(raw)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    t = totals.setdefault(group, TaskTotals())
                    stages_seen.setdefault(group, set()).add(ev.get("Stage ID"))
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    t.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if info.get("Failed") or info.get("Killed") or reason != "Success":
                        t.failures += 1
                    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                    getting = info.get("Getting Result Time", 0)
                    fetch = finish - getting if getting else 0
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + fetch
                    )
                    t.scheduler_delay_s += max(0, finish - launch - busy) / 1e3
    for group, seen in stages_seen.items():
        totals[group].stages = len(seen)
    return totals


def descendants(root_pid: int) -> list[int]:
    """Pids of the live (non-zombie) descendants of ``root_pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        if fields[0] != b"Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _tree_rss_bytes(root_pid: int, page: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak resident memory of this process tree
    (the driver, the JVM it launched and the Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid, self._page))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
