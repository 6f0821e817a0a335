"""Spark event-log parsing and the interval arithmetic of the traced run.

``parse`` turns one uncompressed, non-rolling JSON event log into a list
of jobs, each with its submission and completion time (seconds since the
epoch, the same clock as ``time.time()``), its description and tags, and
the task metrics of the stages it ran.

``self_time`` and ``charge_jobs`` are the two rules the per-layer numbers
rest on:

- a span's self time is its duration minus the part of that interval its
  child spans cover;
- a job is charged to the span whose window contains the job's submission
  time; when several do, to the one that started last (the innermost).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class StageMetrics:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_ms: float = 0.0

    def add(self, other: "StageMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    submit: float
    end: float | None
    description: str | None
    tags: list[str]
    stage_ids: list[int]
    metrics: StageMetrics = field(default_factory=StageMetrics)
    stages_run: int = 0

    @property
    def interval(self) -> tuple[float, float]:
        return (self.submit, self.end if self.end is not None else self.submit)


def _task_metrics(event: dict) -> StageMetrics:
    tm = event.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    py = 0.0
    for acc in (event.get("Task Info") or {}).get("Accumulables") or []:
        if acc.get("Name") == PYTHON_RUN_METRIC:
            py += float(acc.get("Update") or 0)
    return StageMetrics(
        tasks=1,
        run_ms=float(tm.get("Executor Run Time", 0)),
        cpu_ms=float(tm.get("Executor CPU Time", 0)) / 1e6,
        gc_ms=float(tm.get("JVM GC Time", 0)),
        shuffle_read_bytes=int(sr.get("Local Bytes Read", 0)) + int(sr.get("Remote Bytes Read", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(tm.get("Memory Bytes Spilled", 0)) + int(tm.get("Disk Bytes Spilled", 0)),
        python_ms=py,
    )


def parse(path: str) -> list[Job]:
    """Jobs of one event log, in submission order.

    Task metrics are summed per stage, and each stage is credited to the
    first job that lists it: a later job that lists the same stage finds
    its output already computed and skips it.
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, StageMetrics] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                stages.setdefault(ev["Stage ID"], StageMetrics()).add(_task_metrics(ev))
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    submit=ev["Submission Time"] / 1000.0,
                    end=None,
                    description=props.get("spark.job.description"),
                    tags=tags,
                    stage_ids=list(ev.get("Stage IDs") or []),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
    credited: set[int] = set()
    out = [jobs[k] for k in sorted(jobs)]
    for job in out:
        for sid in job.stage_ids:
            if sid in credited or sid not in stages:
                continue
            credited.add(sid)
            job.metrics.add(stages[sid])
            job.stages_run += 1
    return out


# ---------------------------------------------------------------------------
# intervals
# ---------------------------------------------------------------------------

Interval = tuple[float, float]


def union(intervals) -> list[Interval]:
    """Sorted, disjoint union of ``(start, end)`` pairs."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def clip(intervals, lo: float, hi: float) -> list[Interval]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def subtract(base: Interval, holes) -> list[Interval]:
    """``base`` minus the union of ``holes``."""
    lo, hi = base
    out = []
    cur = lo
    for a, b in union(clip(holes, lo, hi)):
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if hi > cur:
        out.append((cur, hi))
    return out


def intersect_length(a_list, b_list) -> float:
    """Length of the intersection of two interval sets."""
    a_u, b_u = union(a_list), union(b_list)
    total, i, j = 0.0, 0, 0
    while i < len(a_u) and j < len(b_u):
        lo = max(a_u[i][0], b_u[j][0])
        hi = min(a_u[i][1], b_u[j][1])
        if hi > lo:
            total += hi - lo
        if a_u[i][1] < b_u[j][1]:
            i += 1
        else:
            j += 1
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    parent: int  # 0 for a root
    name: str
    layer: str
    t0: float
    t1: float


def children_of(spans) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    return kids


def self_intervals(span: Span, kids: dict[int, list[Span]]) -> list[Interval]:
    """The part of ``span`` its children do not cover."""
    return subtract((span.t0, span.t1), [(c.t0, c.t1) for c in kids.get(span.sid, [])])


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    return sum(b - a for a, b in self_intervals(span, kids))


def charge_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Map span id -> jobs charged to it (key 0: jobs inside no span)."""
    ordered = sorted(spans, key=lambda s: s.t0)
    out: dict[int, list[Job]] = {}
    for job in jobs:
        best = None
        for s in ordered:
            if s.t0 > job.submit:
                break
            if job.submit <= s.t1:
                best = s  # later start wins: the innermost open span
        out.setdefault(best.sid if best else 0, []).append(job)
    return out


def subtree(root: Span, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out
