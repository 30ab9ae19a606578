"""Spans around the benchmark's calls into the program, and the roll-up of
Spark's event log onto them.

A span has a name, a start and end (epoch seconds), a parent span and a
request id. While a span is open, the Spark jobs the calling thread starts
carry the span id as their job group, so the event log's job, stage and
task records can be attributed to the innermost span and summed up its
ancestors. Spans stay in memory; the caller writes them out at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    request: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``sc`` set, also tags Spark jobs with the
    innermost open span's id; without it (the untraced run) a span only
    keeps its times."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(f"s{len(self.spans) + 1}", name,
                  parent.id if parent else None, request, time.time(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    submit: float            # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageCost:
    tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python_bytes: int = 0
    peak_exec_mem: int = 0

    def add(self, other: "StageCost") -> None:
        self.tasks += other.tasks
        self.task_ms += other.task_ms
        self.gc_ms += other.gc_ms
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.output_bytes += other.output_bytes
        self.python_bytes += other.python_bytes
        self.peak_exec_mem = max(self.peak_exec_mem, other.peak_exec_mem)


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, StageCost]]:
    """Jobs (with their job group and the stages they ran) and per-stage
    task costs from the JSON lines of a Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageCost] = {}
    owner: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      ev["Submission Time"] / 1000.0)
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", []):
                owner.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stages.setdefault(ev["Stage ID"], StageCost()).add(_task_cost(ev))
    for sid in stages:
        job = jobs.get(owner.get(sid, -1))
        if job is not None:
            job.stages.append(sid)
    return jobs, stages


def _task_cost(ev: dict) -> StageCost:
    m = ev.get("Task Metrics") or {}
    py = 0
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") in (PY_SENT, PY_RETURNED):
            py += int(acc.get("Update") or 0)
    return StageCost(
        tasks=1,
        task_ms=float(m.get("Executor Run Time", 0)),
        gc_ms=float(m.get("JVM GC Time", 0)),
        shuffle_write_bytes=int((m.get("Shuffle Write Metrics") or {})
                                .get("Shuffle Bytes Written", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0))
        + int(m.get("Disk Bytes Spilled", 0)),
        output_bytes=int((m.get("Output Metrics") or {})
                         .get("Bytes Written", 0)),
        python_bytes=py,
        peak_exec_mem=int(m.get("Peak Execution Memory", 0)),
    )


# ---------------------------------------------------------------------------
# roll-up
# ---------------------------------------------------------------------------

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    return max(iv[0], lo), min(iv[1], hi)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = union_length([_clip((c.start, c.end), span.start, span.end)
                            for c in children])
    return span.dur - covered


@dataclass
class Rollup:
    """Event-log totals of one span and its descendants."""

    wall_ms: float
    self_ms: float
    jobs: int
    stages: int
    driver_gap_ms: float
    cost: StageCost


def rollup(spans: list[Span], jobs: dict[int, Job],
           stages: dict[int, StageCost]) -> dict[str, Rollup]:
    """Per span: jobs and stages run under it or any descendant, their
    summed task costs, self time, and driver gap (the span's wall time
    that no job of it covers)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    own: dict[str, list[Job]] = {}
    for j in jobs.values():
        if j.group is not None:
            own.setdefault(j.group, []).append(j)

    def subtree_jobs(sid: str) -> list[Job]:
        out = list(own.get(sid, []))
        for c in children.get(sid, []):
            out.extend(subtree_jobs(c.id))
        return out

    out: dict[str, Rollup] = {}
    for s in spans:
        js = subtree_jobs(s.id)
        cost = StageCost()
        n_stages = 0
        for j in js:
            for sid in j.stages:
                cost.add(stages[sid])
                n_stages += 1
        covered = union_length([_clip((j.submit, j.end or s.end),
                                      s.start, s.end) for j in js])
        out[s.id] = Rollup(
            wall_ms=s.dur * 1000.0,
            self_ms=self_time(s, children.get(s.id, [])) * 1000.0,
            jobs=len(js),
            stages=n_stages,
            driver_gap_ms=(s.dur - covered) * 1000.0,
            cost=cost,
        )
    return out
