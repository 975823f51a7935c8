"""Per-layer tracing for the benchmark runner.

Everything here observes the engine from outside: spans come from
wrappers the runner installs around public functions, Spark costs from
the jobs each operation started (``statusTracker`` plus the status
store's last attempt of every stage, which works with the UI off), and
streaming costs from a ``StreamingQueryListener``. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")


class Tracer:
    """Spans (name, start, end, parent, op) and per-operation counters."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._local = threading.local()
        self._op_span: int | None = None
        self._op: str | None = None
        self._lock = threading.Lock()

    def _push(self, name: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # Spans opened on the exporter's writer threads hang off the op.
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                               "parent": parent, "op": self._op})
        stack.append(idx)
        return idx

    def _pop(self, idx: int) -> float:
        self._local.stack.pop()
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        return span["end"] - span["start"]

    def op(self, op_id: str):
        """Context manager for the root span of one operation."""
        return self._op_span_cm(op_id) if self.enabled else contextlib.nullcontext()

    def span(self, name: str):
        """Context manager for a span; its seconds add to counter ``name``."""
        return self._span_cm(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _op_span_cm(self, op_id: str):
        self._op = op_id
        self._op_span = self._push("op")
        try:
            yield
        finally:
            self._pop(self._op_span)
            self._op_span = self._op = None

    @contextlib.contextmanager
    def _span_cm(self, name: str):
        idx = self._push(name)
        try:
            yield
        finally:
            self.add(name, self._pop(idx))

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] += value

    def wrap(self, fn, name: str, after=None):
        """Return ``fn`` recording a span ``name`` while tracing is on;
        ``after(result, args)`` may add counters from the call's result."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, args)
            return result

        return wrapper


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store and the streaming listener have seen the finished op."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_costs(spark, job_ids) -> Counter:
    """Scheduler and executor costs of the jobs ``job_ids``.

    Jobs are picked by id range, not by job group: the exporter submits
    its writes from its own threads, which do not inherit the caller's
    job group.

    A stage id the status store cannot resolve, or one it marks skipped,
    was not run (its shuffle output was reused) and counts as skipped.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: Counter = Counter()
    for job_id in job_ids:
        out["spark.jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                out["spark.stages_skipped"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                out["spark.stages_skipped"] += 1
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


class StreamingProgress(StreamingQueryListener):
    """Sums micro-batch progress reports while ``enabled``."""

    DURATIONS = {
        "triggerExecution": "streaming.trigger_ms",
        "addBatch": "streaming.add_batch_ms",
        "queryPlanning": "streaming.planning_ms",
        "walCommit": "streaming.wal_commit_ms",
    }

    def __init__(self) -> None:
        self.enabled = False
        self.counters: Counter = Counter()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not self.enabled:
            return
        self.counters["streaming.batches"] += 1
        durations = event.progress.durationMs or {}
        for key, metric in self.DURATIONS.items():
            self.counters[metric] += durations.get(key, 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def file_rows_and_bytes(path: str) -> tuple[int, int]:
    """Data rows (lines after the header) and size of a CSV file."""
    lines = 0
    with open(path, "rb") as f:
        while chunk := f.read(1 << 22):
            lines += chunk.count(b"\n")
    return max(lines - 1, 0), os.path.getsize(path)
