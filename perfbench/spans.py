"""Spans recorded around the program's public calls, and the Spark
event-log metrics of each call.

A span is (name, start, end, parent, rep).  Spans are kept in memory
and written once, when the benchmark ends.  Times are wall-clock epoch
seconds, the clock Spark's event log uses, so each span can be matched
with the jobs that ran inside it.

While a span is open, "<name>#<rep>" is the Spark job group of the
calling thread, so every job the call starts is tagged with the call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rep: int
    group: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``enabled=False`` makes :meth:`span` a no-op, so
    the same job code runs traced and untraced."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.rep = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{self.rep}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.rep, group))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self.spans[self._stack[-1]].group, self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def rep_spans(self, rep: int) -> list[Span]:
        return [s for s in self.spans if s.rep == rep]

    def dump(self, path: str) -> None:
        """Write every span with its self time (duration minus the part
        its children cover)."""
        out = [dict(asdict(s), self_s=st) for s, st in zip(self.spans, self_times(self.spans))]
        with open(path, "w") as f:
            json.dump(out, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - union_length(clipped(kids.get(i, []), s.start, s.end))
        for i, s in enumerate(spans)
    ]


def coverage(spans: list[Span], job_start: float, job_end: float) -> float:
    """Share of a job's wall time covered by its top-level call spans."""
    top = [(s.start, s.end) for s in spans if s.parent is None]
    wall = job_end - job_start
    return union_length(clipped(top, job_start, job_end)) / wall if wall > 0 else 0.0


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single application logged under ``log_dir``
    (plain or rolling layout, uncompressed)."""
    events = []
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    files = []
    for p in paths:
        if os.path.isdir(p):  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            files += sorted(
                glob.glob(os.path.join(p, "events_*")),
                key=lambda f: int(os.path.basename(f).split("_")[1]),
            )
        else:
            files.append(p)
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs, stages and tasks of one Spark application, indexed by job
    group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_time: dict[int, tuple[float, float]] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.failed_tasks = 0
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev.get("Stage IDs", []):
                    self.stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub, comp = info.get("Submission Time"), info.get("Completion Time")
                if sub is not None and comp is not None:
                    self.stage_time[info["Stage ID"]] = (sub / 1000.0, comp / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                if info.get("Failed"):
                    self.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Disk Bytes Spilled", 0) / 2**20,
                        "shuffle": sw.get("Shuffle Bytes Written", 0) / 2**20,
                    }
                )

    def _stage_wall(self, sid: int) -> float:
        start, end = self.stage_time.get(sid, (0.0, 0.0))
        return end - start

    def call_metrics(self, group: str, start: float, end: float) -> dict[str, float]:
        """The eight Spark metrics of one traced call (one job group)."""
        jids = [j for j, job in self.jobs.items() if job["group"] == group]
        sids = [s for s, j in self.stage_job.items() if j in jids and s in self.tasks]
        tasks = [t for s in sids for t in self.tasks[s]]
        intervals = [
            (self.jobs[j]["start"], self.jobs[j]["end"] or end) for j in jids
        ]
        skew = 0.0
        if sids:
            longest = max(sids, key=self._stage_wall)
            durs = [t["dur"] for t in self.tasks[longest]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "exec_cpu_s": sum(t["cpu"] for t in tasks),
            "exec_run_s": sum(t["run"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle"] for t in tasks),
            "spill_mb": sum(t["spill"] for t in tasks),
            "gc_s": sum(t["gc"] for t in tasks),
            "task_skew": skew,
            "driver_gap_s": (end - start) - union_length(clipped(intervals, start, end)),
            "tasks": float(len(tasks)),
        }
