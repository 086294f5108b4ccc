"""Benchmark-side tracing: spans around calls into the engine's layers,
Spark stage metrics per span, and streaming progress per micro-batch.

Spans live in memory and are written once, at exit. Each span records
its name, layer, start, end, parent and request id, and tags the Spark
jobs it submits with a job group named after it. Jobs are attributed to
the innermost span open while they ran: the Spark UI REST API is read at
every span boundary, so a job seen at a boundary belongs to the span
that was innermost since the previous boundary (single client, calls
are synchronous) and UI retention limits never drop a stage before it
is counted.

With tracing off, ``span`` only yields: the untraced run pays one
generator call per span and nothing else.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("sources", "operators", "streaming", "plans", "ml")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    trace_s: float = 0.0  # REST reads at child boundaries, excluded from self time
    skews: list[float] = field(default_factory=list)


class StageMetrics:
    """Reads finished jobs and their stages from the Spark UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_jobs(self) -> list[dict]:
        """Finished jobs not returned before, oldest first."""
        jobs = [
            j
            for j in self._get("/jobs")
            if j["jobId"] > self.last_job and j["status"] in ("SUCCEEDED", "FAILED")
        ]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        return sorted(jobs, key=lambda j: j["jobId"])

    def charge(self, span: Span, jobs: list[dict]) -> None:
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        span.jobs += len(jobs)
        if not stage_ids:
            return
        for st in self._get("/stages?status=complete"):
            if st["stageId"] not in stage_ids:
                continue
            span.shuffle_bytes += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
            span.spill_bytes += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            span.gc_ms += st.get("jvmGcTime", 0)
            span.input_bytes += st.get("inputBytes", 0)
            span.input_records += st.get("inputRecords", 0)
            span.output_bytes += st.get("outputBytes", 0)
            if st.get("numCompleteTasks", 0) >= 2:
                q = self._get(
                    f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                if q[0] > 0:
                    span.skews.append(q[1] / q[0])


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: dict[str, float] = {}
        self.stages = StageMetrics(spark) if enabled else None
        self.request: int | None = None

    def _boundary(self, owner: Span | None) -> None:
        """Charge jobs finished since the last boundary to the innermost
        span, and the time this read takes to ``owner``, the span whose
        interval contains it."""
        t = time.perf_counter()
        jobs = self.stages.new_jobs()
        if jobs and self.stack:
            self.stages.charge(self.stack[-1], jobs)
        if owner is not None:
            owner.trace_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        self._boundary(parent)
        s = Span(
            len(self.spans), name, layer, parent.span_id if parent else None,
            self.request, time.perf_counter(),
        )
        self.spans.append(s)
        self.stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{s.span_id}", name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._boundary(parent)
            self.stack.pop()
            if parent is not None:
                sc.setJobGroup(f"span-{parent.span_id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, layer: str):
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    # -- reports ---------------------------------------------------------

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its (sequential) children cover
        and minus tracing's own reads, summed per span name."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child_s.get(s.span_id, 0.0) - s.trace_s
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            mine = [s for s in self.spans if s.layer == layer]
            skews = [k for s in mine for k in s.skews]
            out[f"{layer}.spark_jobs"] = float(sum(s.jobs for s in mine))
            out[f"{layer}.shuffle_bytes"] = float(sum(s.shuffle_bytes for s in mine))
            out[f"{layer}.spill_bytes"] = float(sum(s.spill_bytes for s in mine))
            out[f"{layer}.gc_s"] = sum(s.gc_ms for s in mine) / 1000.0
            out[f"{layer}.task_skew"] = statistics.median(skews) if skews else 0.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = {k: v for k, v in s.__dict__.items() if k != "skews"}
                rec["task_skew_max"] = max(s.skews, default=0.0)
                fh.write(json.dumps(rec) + "\n")


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.reports: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.reports.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def settle(self, quiet_s: float = 1.0, max_s: float = 10.0) -> None:
            """Wait until no progress report arrived for ``quiet_s``:
            reports reach Python asynchronously, after the query ends."""
            deadline = time.monotonic() + max_s
            seen = -1
            while time.monotonic() < deadline:
                with self.lock:
                    n = len(self.reports)
                if n == seen:
                    return
                seen = n
                time.sleep(quiet_s)

    return Progress()


def summarize_progress(reports: list[dict]) -> dict[str, float]:
    """Per-batch streaming numbers summed over every report."""
    dur = lambda k: float(sum(p["durationMs"].get(k, 0) for p in reports))  # noqa: E731
    return {
        "streaming.batches": float(len(reports)),
        "streaming.input_rows": float(sum(p["numInputRows"] for p in reports)),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
    }


def descendants() -> list[int]:
    """Pids of every live descendant of this process: the JVM and the
    Python worker daemons it forks."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    kids.setdefault(int(fh.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and its live
    descendants."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += sum(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except OSError:
            continue
    return total_kb / 1024.0
