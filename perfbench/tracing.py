"""Spans around calls into the program, plus the Spark counters the
traced run reads: the event log and streaming query progress.

A span records name, start, end, parent span and benchmark job id; spans
live in memory and are written out once, when the run ends.  While a
span is open, Spark jobs submitted from this thread carry its id as the
local property ``perfbench.span``, which the event log records with each
job, so every task can be attributed to the span that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROP = "perfbench.span"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """``build_session(extra=...)`` settings that turn the event log on
    (uncompressed, one file) for the traced run only."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, job)
        self.spans.append(s)
        self._stack.append(sid)
        self._set_prop(str(sid))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_prop(str(self._stack[-1]) if self._stack else None)

    def _set_prop(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROP, value)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> set[int]:
        """Ids of ``root`` and every span opened beneath it."""
        ids = {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    run_ms: float
    failed: bool
    py_in: int
    py_out: int
    shuffle_write: int
    spilled: int
    input_bytes: int


class EventLog:
    """Tasks and jobs of one application's event log, keyed by span."""

    def __init__(self, path: str):
        self.job_span: dict[int, str | None] = {}
        self.stage_span: dict[int, str | None] = {}
        self.tasks: list[Task] = []
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
                 if not n.startswith(".") and not n.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{log_dir}, found {sorted(files)}")
        return cls(files[0])

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            self.job_span[ev["Job ID"]] = span
            for sid in ev.get("Stage IDs", []):
                self.stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            acc = {a.get("Name"): a.get("Update")
                   for a in info.get("Accumulables", [])}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")

            def num(v) -> int:
                try:
                    return int(v)
                except (TypeError, ValueError):
                    return 0

            self.tasks.append(Task(
                stage=ev["Stage ID"],
                run_ms=float(m.get("Executor Run Time", 0)),
                failed=bool(info.get("Failed")) or reason not in (
                    None, "Success"),
                py_in=num(acc.get("data sent to Python workers")),
                py_out=num(acc.get("data returned from Python workers")),
                shuffle_write=num((m.get("Shuffle Write Metrics") or {})
                                  .get("Shuffle Bytes Written")),
                spilled=num(m.get("Memory Bytes Spilled"))
                + num(m.get("Disk Bytes Spilled")),
                input_bytes=num((m.get("Input Metrics") or {})
                                .get("Bytes Read")),
            ))

    def jobs_in(self, span_ids: set[int]) -> int:
        ids = {str(i) for i in span_ids}
        return sum(1 for s in self.job_span.values() if s in ids)

    def tasks_in(self, span_ids: set[int]) -> list[Task]:
        ids = {str(i) for i in span_ids}
        return [t for t in self.tasks if self.stage_span.get(t.stage) in ids]


def task_skew(tasks: list[Task]) -> float:
    """Largest max/median task run time over the stages with at least
    two tasks (1.0 when every stage is balanced or single-task)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skews = [max(v) / max(statistics.median(v), 1.0)
             for v in by_stage.values() if len(v) >= 2]
    return max(skews, default=1.0)


def busy_share(tasks: list[Task], wall_s: float, n_cores: int) -> float:
    """Executor run time as a share of the cores' wall time."""
    return sum(t.run_ms for t in tasks) / 1000.0 / (wall_s * n_cores)


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

def progress_listener(spark):
    """Register a ``StreamingQueryListener`` that keeps every progress
    report (as a dict); returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list[dict] = []

    class _Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Keep())
    return seen
