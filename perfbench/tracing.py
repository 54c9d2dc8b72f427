"""Benchmark-side instrumentation: spans, Spark job windows, trigger
progress, CPU time and the end-of-window heap probe.

Everything here observes the program from its public boundaries and
adds no Spark job:

* :class:`JobClock` reads the DAG scheduler's next job id (a counter,
  no job) at span boundaries; one query or one client runs at a time,
  so the jobs a span launched are exactly the ids between its two
  readings.  Task counts are resolved after the run from the status
  tracker, once the listener bus has drained.
* :class:`Tracer` keeps spans in memory (name, parent, batch, start,
  end, job window) and writes them out at the end.
* :class:`TimedSink` wraps a sink without changing its shape: it has
  exactly the inner sink's attributes (``process_batch`` branches on
  ``hasattr(sink, "read_state")``), and times ``apply``/``read_state``.
* :class:`ProgressLog` is a ``StreamingQueryListener`` collecting each
  trigger's ``durationMs`` phases.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class JobClock:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def task_counter(self):
        """Wait for the listener bus, then return ``tasks(j0, j1)``:
        tasks run by jobs ``j0 <= id < j1``, each stage counted once
        (a skipped stage reused by a later job ran no tasks)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        cache: dict[int, int] = {}

        def tasks(j0: int, j1: int) -> int:
            stages = set()
            for j in range(j0, j1):
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            total = 0
            for s in stages:
                if s not in cache:
                    st = tracker.getStageInfo(s)
                    cache[s] = (st.numCompletedTasks + st.numFailedTasks) if st else 0
                total += cache[s]
            return total

        return tasks


class Tracer:
    """In-memory span log.  A span records its name, its parent (the
    enclosing open span on the same thread), the batch it ran in,
    start, end and job window.  ``clock=None`` (untraced run) records
    nothing and reads no job ids."""

    def __init__(self, clock: JobClock | None):
        self.clock = clock
        self.spans: list[dict] = []
        self.marks: list[dict] = []
        self.batch = 0
        self._done: list[dict] = []
        self._open = threading.local()
        self._lock = threading.Lock()

    @property
    def on(self) -> bool:
        return self.clock is not None

    def begin(self, name: str, **attrs) -> dict | None:
        if not self.on:
            return None
        stack = self._open.__dict__.setdefault("stack", [])
        span = {"name": name, "parent": stack[-1]["name"] if stack else None,
                "batch": self.batch, "start": time.perf_counter(),
                "j0": self.clock.next_job_id(), **attrs}
        stack.append(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        span["j1"] = self.clock.next_job_id()
        self._open.stack.remove(span)
        with self._lock:
            self.spans.append(span)

    def mark(self, name: str, **attrs) -> None:
        """A point event: a batch commit, a query start."""
        if not self.on:
            return
        with self._lock:
            self.marks.append({"name": name, "t": time.perf_counter(),
                               "j": self.clock.next_job_id(), **attrs})
            if name == "commit":
                self.batch += 1

    def reset(self) -> None:
        """Start a new phase: spans and marks so far move to the
        written-out log only, and batch numbering restarts."""
        with self._lock:
            self._done.append({"spans": list(self.spans), "marks": list(self.marks)})
            self.spans.clear()
            self.marks.clear()
            self.batch = 0

    def dump(self, path: str) -> None:
        """Write every phase's spans and marks as JSON."""
        self.reset()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"phases": self._done}, fh)


class TimedSink:
    """Transparent timing wrapper: every attribute of the inner sink
    and no other (``read_state`` exists iff the inner sink has it),
    with ``apply`` and ``read_state`` recorded as ``<name>.apply`` /
    ``<name>.read_state`` spans."""

    def __init__(self, inner, tracer: Tracer, name: str):
        self._inner = inner
        self._tracer = tracer
        self._name = name

    def __getattr__(self, attr):
        value = getattr(self._inner, attr)  # AttributeError exactly as inner
        if attr != "read_state":
            return value

        def read_state(*args, **kwargs):
            span = self._tracer.begin(self._name + ".read_state")
            try:
                return value(*args, **kwargs)
            finally:
                self._tracer.end(span)

        return read_state

    def apply(self, spark, irs, batch_id):
        span = self._tracer.begin(self._name + ".apply", batch_id=batch_id)
        try:
            return self._inner.apply(spark, irs, batch_id)
        finally:
            self._tracer.end(span)


class ProgressLog(StreamingQueryListener):
    """Trigger progress per query run, in arrival order."""

    def __init__(self):
        self._cv = threading.Condition()
        self.progress: dict[str, list[dict]] = {}
        self.terminated: dict[str, str | None] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated[str(event.runId)] = event.exception
            self._cv.notify_all()

    def wait(self, run_id: str, timeout: float = 60.0) -> list[dict]:
        """All progress of one run, after its termination event (the
        listener bus delivers in order, so nothing is still in flight).
        Raises if the query failed or never reported termination."""
        with self._cv:
            if not self._cv.wait_for(lambda: run_id in self.terminated, timeout):
                raise TimeoutError(f"no termination event for run {run_id}")
            if self.terminated[run_id]:
                raise RuntimeError(self.terminated[run_id])
            return list(self.progress.get(run_id, []))


def retained_heap_mb(spark) -> tuple[float, float]:
    """(JVM heap in use after an explicit full GC, bytes of Spark's
    cached/checkpointed blocks in memory and on disk), in MiB.  A frame
    that outlives its use shows up in one term or the other.  The
    pause lets Spark's ContextCleaner drop blocks whose frames the GC
    just found unreachable."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.25)
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
    blocks = sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo())
    return used / 2**20, blocks / 2**20


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its
    live descendants, plus children they have already reaped — the
    JVM and its Python workers, read from /proc (no Spark job)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += ticks
    return total / tick


def parquet_files(path: str) -> int:
    """Data files of a parquet directory (filesystem listing, no job)."""
    try:
        return sum(
            1 for _root, _dirs, names in os.walk(path)
            for n in names if n.endswith(".parquet")
        )
    except OSError:
        return 0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
