"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code around each call into
a layer of the engine. Each span that runs Spark work does so under its
own ``setJobGroup``, so Spark's event log attributes every job, stage
and task to exactly one span. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

#: SQL metric names of the engine's Python/Arrow operators.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op that still runs the body, so traced and untraced runs share
    one code path."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark=None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        if spark is not None:
            spark.sparkContext.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if spark is not None:
                if self._stack:
                    spark.sparkContext.setJobGroup(f"span-{self._stack[-1]}", "")
                else:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, parent: Span, start: float, end: float, **attrs) -> Span:
        """Record a span whose times were measured elsewhere (a
        micro-batch, from its progress report)."""
        s = Span(len(self.spans), name, parent.id, start, end, dict(attrs))
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        cover, cursor = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                cover += hi - lo
                cursor = hi
        return span.dur - cover

    def subtree_ids(self, span: Span) -> set[int]:
        ids, frontier = {span.id}, [span]
        while frontier:
            kids = self.children(frontier.pop())
            ids.update(k.id for k in kids)
            frontier.extend(kids)
        return ids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) | {"self": self.self_time(s)} for s in self.spans],
                      fh, indent=1)


@dataclass
class TaskTotals:
    """Spark runtime work summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    scheduler_delay_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    scan_bytes: int = 0
    scan_rows: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0


class EventLog:
    """Spark's JSON-lines event log for one application, indexed by job
    group (the tracer's span ids, or a streaming query's run id) and by
    streaming micro-batch id."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.job_group: dict[int, str | None] = {}
        self.job_batch: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: dict[int, int] = {}
        self.task_events: list[dict] = []
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.job_group[job] = props.get("spark.jobGroup.id")
                    self.job_batch[job] = props.get("streaming.sql.batchId")
                    for st in ev.get("Stage IDs", []):
                        self.stage_job[st] = job
                elif kind == "SparkListenerStageCompleted":
                    st = ev["Stage Info"]["Stage ID"]
                    self.stages_done[st] = self.stages_done.get(st, 0) + 1
                elif kind == "SparkListenerTaskEnd":
                    self.task_events.append(ev)

    def totals(self, groups: set[str], batches: set[int] | None = None) -> TaskTotals:
        """Work of the jobs in ``groups``; only those of the micro-batches
        ``batches`` when that is given."""
        t = TaskTotals()
        jobs = {j for j, g in self.job_group.items() if g in groups and (
            batches is None or self.job_batch[j] in {str(b) for b in batches})}
        t.jobs = len(jobs)
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        t.stages = sum(self.stages_done.get(s, 0) for s in stages)
        for ev in self.task_events:
            if ev.get("Stage ID") not in stages:
                continue
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            t.tasks += 1
            busy = (m.get("Executor Deserialize Time", 0) + m.get("Executor Run Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0))
            span_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            t.scheduler_delay_s += max(0, span_ms - busy) / 1e3
            t.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            t.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
            t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            t.scan_bytes += inp.get("Bytes Read", 0)
            t.scan_rows += inp.get("Records Read", 0)
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") == PY_SENT:
                    t.python_bytes_sent += int(acc.get("Update", 0))
                elif acc.get("Name") == PY_RECV:
                    t.python_bytes_received += int(acc.get("Update", 0))
        return t


def spark_metrics(t: TaskTotals) -> dict[str, tuple[float, str]]:
    """The ``spark.*``, ``io.*`` and ``functions.*`` per-layer metrics."""
    return {
        "spark.jobs": (t.jobs, "count"),
        "spark.stages": (t.stages, "count"),
        "spark.tasks": (t.tasks, "count"),
        "spark.scheduler_delay_s": (t.scheduler_delay_s, "s"),
        "spark.executor_run_s": (t.executor_run_s, "s"),
        "spark.executor_cpu_s": (t.executor_cpu_s, "s"),
        "spark.gc_s": (t.gc_s, "s"),
        "spark.shuffle_write_bytes": (t.shuffle_write_bytes, "B"),
        "spark.shuffle_read_bytes": (t.shuffle_read_bytes, "B"),
        "spark.spill_bytes": (t.spill_bytes, "B"),
        "io.scan_bytes": (t.scan_bytes, "B"),
        "io.scan_rows": (t.scan_rows, "count"),
        "functions.python_bytes_sent": (t.python_bytes_sent, "B"),
        "functions.python_bytes_received": (t.python_bytes_received, "B"),
    }
