"""Spans around the benchmark's calls into the package, a streaming
progress listener, and the Spark event-log reader that feeds
``metrics.attribute_jobs``.

Spans are kept in memory and written out when the run ends. With tracing
off, ``Tracer.span`` records nothing and sets no job group, so untraced
runs pay only the ``with`` statement.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from metrics import Job, Span


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self.phase = "setup"

    @contextmanager
    def span(self, name: str, layer: "str | None" = None, op: bool = False):
        """Time ``name``. ``op=True`` opens a new operation id that every
        span nested inside shares; ``layer`` names the package module the
        call enters. While open, the span's id is the thread's Spark job
        group, so jobs it submits are attributed to it."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(sid=next(self._ids), name=name, start=time.time(), end=0.0,
                 parent=parent.sid if parent else None,
                 op=next(self._ops) if op or parent is None else parent.op,
                 layer=layer, phase=self.phase)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Every progress event of every streaming query, in full (all
    ``durationMs`` phases, state operators, runId), plus each query's
    start time. Callbacks arrive asynchronously on the listener bus;
    ``quiesce`` waits until every started query has terminated and its
    events have landed."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: "list[dict]" = []
        self.run_starts: "dict[str, float]" = {}
        self.terminated: "set[str]" = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self.lock:
            self.run_starts[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self.lock:
            self.terminated.add(str(event.runId))

    def quiesce(self, n_started: int, timeout_s: float = 30.0) -> None:
        """Wait until ``n_started`` queries (counted over the listener's
        life) have started and every one of them has terminated. A
        query's last progress event is posted before its termination
        event on the same bus, so nothing trails once both are in."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if (len(self.run_starts) >= n_started
                        and set(self.run_starts) <= self.terminated):
                    return
            time.sleep(0.02)
        raise TimeoutError("streaming listener never saw termination")

    def mark(self) -> int:
        with self.lock:
            return len(self.progress)

    def since(self, mark: int) -> "list[dict]":
        with self.lock:
            return self.progress[mark:]


def read_event_log(log_dir: Path) -> "list[Job]":
    """Jobs from a Spark event log directory (uncompressed JSON lines,
    plain or rolling): run interval, job group, and per-job task totals
    (tasks, executor CPU, GC, shuffle bytes written, disk spill)."""
    files = sorted(p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith("appstatus"))
    jobs: "dict[int, Job]" = {}
    stage_job: "dict[int, int]" = {}
    for f in files:
        with f.open() as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = Job(job_id=e["Job ID"],
                            submit=e["Submission Time"] / 1000.0,
                            end=e["Submission Time"] / 1000.0,
                            group=props.get("spark.jobGroup.id"))
                    jobs[j.job_id] = j
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    j.gc_ms += m.get("JVM GC Time", 0)
                    j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)
