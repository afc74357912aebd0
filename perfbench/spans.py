"""Spans around the package's public functions, attributed to Spark jobs.

``Tracer.wrap`` replaces a module or class attribute with a wrapper
that records one span per call: name, start, end, parent and a Spark
job group of its own (``sc.setJobGroup``), so every job the call
submits is attributed to the innermost open span. Spans stay in
memory; ``job_counts`` reads job, stage and task counts per span from
``statusTracker`` and ``read_event_log`` reads job intervals and task
metrics from the Spark event log, which the traced run turns on.

A span's self time is its duration minus its children's durations,
so the self times of a tree add up to its root's duration exactly.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    phase: str
    start: float = 0.0
    end: float = 0.0
    count: int = 0  # items the call returned, where that is a list
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.enabled = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self.last_root: Span | None = None
        self._stack: list[Span] = []

    def bind(self, sc) -> None:
        """Attach a (new) SparkContext; spans of an earlier one are dropped,
        since its jobs are no longer visible."""
        self.sc = sc
        self.spans, self._stack = [], []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span.group, span.name)

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None, self.phase)
        self.spans.append(span)
        if parent:
            parent.children.append(span.sid)
        else:
            self.last_root = span
        self._stack.append(span)
        self._set_group(span)
        span.start = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self._stack.pop()
            self._set_group(parent)
        if isinstance(out, list):
            span.count = len(out)
        return out

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def self_time(self, span: Span) -> float:
        return span.duration - sum(self.spans[c].duration for c in span.children)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[c] for c in s.children)
        return out

    def roots(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name == name]

    def job_counts(self) -> dict[str, dict[str, int]]:
        """{span group: jobs, stages and tasks run, tasks failed}, from
        ``statusTracker``. Call before the context stops."""
        tracker = self.sc.statusTracker()
        out = {}
        for span in self.spans:
            jobs = tracker.getJobIdsForGroup(span.group)
            c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "tasks_failed": 0}
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st and st.numCompletedTasks + st.numFailedTasks:
                        c["stages"] += 1
                        c["tasks"] += st.numCompletedTasks
                        c["tasks_failed"] += st.numFailedTasks
            out[span.group] = c
        return out

    def dump(self, path: str, counts: dict[str, dict[str, int]]) -> None:
        """Every span, one JSON object a line, with its job counts."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({"sid": s.sid, "name": s.name, "parent": s.parent,
                                     "phase": s.phase, "start": s.start, "end": s.end,
                                     **counts[s.group]}) + "\n")


@dataclass
class JobRecord:
    group: str | None
    start: float  # seconds, epoch
    end: float
    metrics: dict[str, float] = field(default_factory=dict)


TASK_METRICS = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")


def read_event_log(path: str) -> list[JobRecord]:
    """Jobs with their group, interval and summed task metrics."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[jid] = JobRecord(group, ev["Submission Time"] / 1e3, 0.0,
                                      dict.fromkeys(TASK_METRICS, 0.0))
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                jid = stage_job.get(ev["Stage ID"])
                if not tm or jid is None:
                    continue
                m = jobs[jid].metrics
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    return list(jobs.values())


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
