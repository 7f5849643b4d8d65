"""Spans and Spark-side counters recorded from the benchmark's own code.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
is cheap enough to run in every mode: a span is two clock reads. The
Spark-side probes only run in a traced run:

- ``SparkProbe`` attributes Spark jobs to spans by job-id range. The
  benchmark has one client thread, so every job submitted between a
  span's start and end belongs to it, including jobs submitted from
  ``run_dag``'s thread pool and from streaming threads, which a
  ``setJobGroup`` tag would not reach. Stage metrics are read from the
  driver's status store right after each op, because the store keeps
  only the last ``spark.ui.retainedStages`` stages; stages it no
  longer has are counted as evicted.
- ``ProgressListener`` collects ``StreamingQueryListener`` progress
  events (``durationMs`` per micro-batch).
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    # next Spark job id at start and end (traced runs only)
    jobs: tuple[int, int] | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    probe: "SparkProbe | None" = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        job0 = self.probe.next_job_id() if self.probe else None
        s = Span(name, time.perf_counter(), parent=parent, op=op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.probe:
                s.jobs = (job0, self.probe.next_job_id())

    def children(self, span: Span) -> list[Span]:
        idx = self.spans.index(span)
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def dump(self, t0: float) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "op": s.op,
                "jobs": list(s.jobs) if s.jobs else None,
            }
            for s in self.spans
        ]


_WRITTEN_FILES = re.compile(r"SQLPlanMetric\(number of written files,(\d+),")


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stages_evicted: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    job_busy_s: float = 0.0  # wall time in which at least one job ran


class SparkProbe:
    """Reads the driver's status stores over py4j. Traced runs only."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def next_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return 0
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId()) + 1

    def stage_totals(self, first_job: int, end_job: int) -> StageTotals:
        t = StageTotals()
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(first_job, end_job):
            t.jobs += 1
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
            except Py4JJavaError:  # evicted from the store
                t.stages_evicted += 1
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                t.stages += 1
                t.tasks += s.numCompleteTasks() + s.numFailedTasks()
                t.executor_run_s += s.executorRunTime() / 1e3
                t.executor_cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.shuffle_read_bytes += s.shuffleReadBytes()
                t.shuffle_write_bytes += s.shuffleWriteBytes()
                t.spill_bytes += s.diskBytesSpilled()
                t.input_bytes += s.inputBytes()
                t.output_bytes += s.outputBytes()
                t.output_records += s.outputRecords()
        t.job_busy_s = _union_ms(intervals) / 1e3
        return t

    def written_files(self, first_exec: int, end_exec: int) -> int:
        """Sum of the ``number of written files`` SQL metric over the
        SQL executions with ids in [first_exec, end_exec)."""
        total = 0
        for eid in range(first_exec, end_exec):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            accs = _WRITTEN_FILES.findall(ex.get().metrics().toString())
            if not accs:
                continue
            values = self._sql.executionMetrics(eid)
            # AQE re-plans list the same metric once per plan version
            for acc in set(accs):
                v = values.get(int(acc))
                if v.isDefined():
                    total += int(str(v.get()).replace(",", ""))
        return total


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's ``durationMs`` until drained."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list[dict] = []
        self._terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._progress.append({
                "id": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

    def onQueryTerminated(self, event):
        with self._lock:
            self._terminated.add(str(event.id))

    def drain(self, timeout_s: float = 5.0) -> list[dict]:
        """Progress events so far, after waiting (bounded) for every
        query that reported progress to have terminated: the listener
        bus delivers asynchronously."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                ids = {p["id"] for p in self._progress}
                if ids <= self._terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            out, self._progress = self._progress, []
            self._terminated.clear()
        return out


def lake_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet lake, skipping Spark's
    ``_SUCCESS`` markers and hidden checksum files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
