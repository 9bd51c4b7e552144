"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and an end, the span that caused it and an op id
shared by every span of one request or batch step.  While a tracer is
enabled, each span runs its Spark jobs under a job group of its own and
counts the py4j commands Python sends to the JVM inside it; the job groups are read
back through ``SparkContext.statusTracker()`` into job, stage and task
counts.  A disabled tracer records nothing and sends no extra commands.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    py4j_calls: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    overhead_s: float = 0.0  # the tracer's own time around this span

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    """Records spans while ``enabled``.  ``attach(spark)`` must be called
    after every session start and ``detach()`` before every stop."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._next_op = 0
        self._sc = None
        self._counting = True
        self._pending: list[Span] = []

    # -- session hooks -----------------------------------------------------

    def attach(self, spark) -> None:
        """Point job groups at this session and wrap the py4j client once."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if getattr(client, "_perfbench_wrapped", False):
            return
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            if tracer._counting and tracer._stack:
                tracer._stack[-1].py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        client._perfbench_wrapped = True

    def detach(self) -> None:
        """Resolve the job groups of finished spans into Spark counts while
        the session is still up (py4j counting paused), then let it go."""
        if self.enabled and self._sc is not None:
            self._collect_counts()
        self._sc = None

    def _collect_counts(self) -> None:
        self._counting = False
        try:
            tracker = self._sc.statusTracker()
            for s in self._pending:
                for job in tracker.getJobIdsForGroup(_group(s)):
                    info = tracker.getJobInfo(job)
                    if info is None:
                        continue
                    s.jobs += 1
                    for stage in info.stageIds:
                        st = tracker.getStageInfo(stage)
                        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                            continue  # skipped: its shuffle output was reused
                        s.stages += 1
                        s.tasks += st.numCompletedTasks
                        s.failed_tasks += st.numFailedTasks
            self._pending.clear()
        finally:
            self._counting = True

    # -- spans -------------------------------------------------------------

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def span(self, name: str, op_id: int = 0, **attrs):
        if not self.enabled:
            return nullcontext(None)
        return self._span(name, op_id, attrs)

    @contextmanager
    def _span(self, name: str, op_id: int, attrs: dict):
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        s = Span(
            self._next_id, name, op_id or (parent.op_id if parent else 0),
            parent.span_id if parent else None, 0.0, attrs=dict(attrs),
        )
        self._set_group(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)
            self._pending.append(s)
            s.overhead_s = (s.start - entered) + (time.perf_counter() - s.end)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        self._counting = False
        try:
            if s is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(_group(s), s.name)
        finally:
            self._counting = True

    # -- output ------------------------------------------------------------

    def write(self, path: str) -> None:
        """Write every span, one JSON object a line, with its self time."""
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = selfs[s.span_id]
                fh.write(json.dumps(row, default=str) + "\n")


def _group(s: Span) -> str:
    return f"perfbench-{s.span_id}"


def by_name(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, Spark and py4j counts."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(
            s.name,
            {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0,
             "tasks": 0, "failed_tasks": 0, "py4j_calls": 0},
        )
        row["calls"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.span_id]
        for key in ("jobs", "stages", "tasks", "failed_tasks", "py4j_calls"):
            row[key] += getattr(s, key)
    return out
