"""Tracing for the per-layer run: in-memory spans, Spark job groups, and the
job/stage timings of Spark's monitoring REST API.

Spans are recorded by the benchmark around its calls into each layer
(planner, DAAT job, materialization, build, incremental) and written out as
JSONL in the shape of the index's lineage WAL (one flat JSON object per
line, ``stage``/``status``/``ts`` plus metrics, sorted keys) when the run
ends.  Spark's UI, and with it the REST API, is enabled only in the traced
run; the untraced run never constructs a ``Tracer`` with ``enabled=True``.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

# conf that turns the UI (and its REST API) on for the traced run only;
# retention is raised so no job of the run is evicted before it is read
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: int
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def event(self) -> dict:
        return {
            "stage": self.name, "status": "done", "span_id": self.span_id,
            "parent": self.parent, "trace_id": self.trace_id,
            "start": self.start, "ts": self.end, "wall_ms": self.ms,
            **self.attrs,
        }


class Tracer:
    """Spans in memory; when enabled, each span also names the Spark job
    group of the jobs its thread submits, so jobs can be tied back to it."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        s = Span(name, sid, parent.span_id if parent else None,
                 parent.trace_id if parent else sid, time.time(), attrs=attrs)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            # jobs after the span belong to the enclosing span again
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.spans.append(s)  # list.append is atomic under the GIL

    def write(self, path: Path, extra: list[dict]) -> None:
        """All spans, plus ``extra`` events, in start order."""
        events = [s.event() for s in self.spans] + extra
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for e in sorted(events, key=lambda e: e["start"]):
                f.write(json.dumps(e, sort_keys=True) + "\n")


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


@dataclass
class Job:
    group: str | None
    submitted: float
    completed: float
    # completed stage attempts only: a skipped stage ran no task
    stages: list[dict]

    @property
    def wall_ms(self) -> float:
        return (self.completed - self.submitted) * 1000.0

    def total(self, key: str) -> float:
        return float(sum(s[key] for s in self.stages))

    def event(self) -> dict:
        """The job as a span event; its parent is its job group's span."""
        parent = (int(self.group.split("-")[1])
                  if self.group and self.group.startswith("span-") else None)
        return {
            "stage": "spark.job", "status": "done", "parent": parent,
            "start": self.submitted, "ts": self.completed,
            "wall_ms": self.wall_ms, "n_stages": len(self.stages),
            "n_tasks": self.total("numTasks"),
            "task_run_ms": self.total("executorRunTime"),
            "task_cpu_ms": self.total("executorCpuTime") / 1e6,
            "slot_wait_ms": self.slot_wait_ms,
        }

    @property
    def slot_wait_ms(self) -> float:
        """Stage submission to first task launch, summed over stages."""
        return sum(
            (_epoch(s["firstTaskLaunchedTime"]) - _epoch(s["submissionTime"]))
            * 1000.0
            for s in self.stages if s.get("firstTaskLaunchedTime")
        )


def read_jobs(sc, timeout_s: float = 20.0) -> list[Job]:
    """Every finished job of the application, with its completed stages.
    The REST store is fed by an asynchronous listener, so wait until no job
    is still running."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    deadline = time.time() + timeout_s
    while True:
        jobs = get("/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if not running or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {
        s["stageId"]: s for s in get("/stages") if s["status"] == "COMPLETE"
    }
    return [
        Job(
            j.get("jobGroup"),
            _epoch(j["submissionTime"]),
            _epoch(j.get("completionTime")) or _epoch(j["submissionTime"]),
            [stages[i] for i in j["stageIds"] if i in stages],
        )
        for j in jobs if j.get("submissionTime")
    ]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def jobs_of(jobs: list[Job], span: Span) -> list[Job]:
    """Jobs submitted under the span's own job group."""
    return [j for j in jobs if j.group == f"span-{span.span_id}"]


def jobs_within(jobs: list[Job], span: Span) -> list[Job]:
    """Jobs submitted while a serial span was open — this also catches jobs
    from helper threads, which do not inherit the caller's job group."""
    return [j for j in jobs if span.start - 0.002 <= j.submitted <= span.end]
