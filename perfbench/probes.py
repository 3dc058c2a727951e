"""Measurement probes that read the engine from outside.

- ``Tracer``: in-memory spans around the benchmark's calls into each
  layer, with per-layer self time.
- ``ProcSampler``: ``/proc`` reads of the JVM and its PySpark daemon and
  worker processes (peak resident memory, Python CPU seconds).
- ``SparkProbe``: per-job counters from Spark's status tracker, status
  store and SQL status store, selected by job group.
- ``StreamProbe``: a ``StreamingQueryListener`` recording every
  micro-batch's progress.

None of them changes the program under test: they use public status
surfaces and the JVM's own accessors only.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.group: str | None = None

    def span(self, name: str, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, attrs)

    @contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                 group=self.group, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def layer(name: str) -> str:
        """Layer of a span name: everything before its last dot."""
        return name.rsplit(".", 1)[0]

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the time its
        direct children cover, summed by layer."""
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.id, 0.0)
            key = self.layer(s.name)
            out[key] = out.get(key, 0.0) + own
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "group": s.group, **s.attrs}
            for s in self.spans
        ]


# --- /proc -----------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def vm_hwm_bytes(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of one process."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcSampler:
    """Samples the JVM's Python descendants (the PySpark daemon and its
    workers) on a background thread and keeps the peak of their summed
    resident memory; ``python_cpu_s`` reads their CPU time on demand."""

    def __init__(self, jvm_pid: int, interval: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_worker_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)

    def python_pids(self) -> list[int]:
        """Python processes descended from the JVM."""
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            st = _stat(int(entry))
            if st is not None:
                comm[int(entry)] = st[0]
                parent[int(entry)] = int(st[2])
        out = []
        for pid in parent:
            p, seen = parent.get(pid), 0
            while p and p != self.jvm_pid and seen < 16:
                p, seen = parent.get(p), seen + 1
            if p == self.jvm_pid and "python" in comm[pid]:
                out.append(pid)
        return out

    def python_cpu_s(self) -> float:
        """User+system CPU of the daemon and live workers, including
        reaped workers (counted in the daemon's children times)."""
        total = 0
        for pid in self.python_pids():
            st = _stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[12:16])
        return total / _CLK_TCK

    def _run(self) -> None:
        pids: list[int] = []
        tick = 0
        while not self._stop.wait(self.interval):
            if tick % 10 == 0:  # rescan the process table once a second
                pids = self.python_pids()
            tick += 1
            rss = sum(_rss_bytes(p) for p in pids)
            self.peak_worker_rss = max(self.peak_worker_rss, rss)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# --- Spark status surfaces -------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)\b")


def _parse_size_metric(text: str | None) -> float:
    """Total of a formatted SQL size metric: '3.1 MiB', or
    'total (min, med, max (stageId: taskId))\\n3.1 MiB (...)'."""
    if not text:
        return 0.0
    m = _SIZE_RE.search(text)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkProbe:
    """Per-job engine counters, read after the job from Spark's status
    tracker (job → stages), status store (stage and task metrics,
    executor storage) and SQL status store (Python exec node metrics)."""

    STAGE_FIELDS = {
        "spark.task_run_s": ("executorRunTime", 1e-3),
        "spark.task_cpu_s": ("executorCpuTime", 1e-9),
        "spark.gc_s": ("jvmGcTime", 1e-3),
        "spark.input_rows": ("inputRecords", 1),
        "spark.input_bytes": ("inputBytes", 1),
        "spark.output_bytes": ("outputBytes", 1),
        "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
        "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spark.spill_bytes": ("diskBytesSpilled", 1),
    }
    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def storage_bytes(self) -> int:
        """Storage memory in use across executors (cached blocks)."""
        return sum(e.memoryUsed() for e in _seq(self.store.executorList(True)))

    def job_metrics(self, groups: list[str]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        out.update({"job_ids": job_ids, "spark.jobs": len(job_ids), "spark.stages": 0,
                    "spark.tasks": 0, "spark.failed_tasks": 0, "spark.task_skew": 0.0})
        # A stage reused by a later job is listed in both jobs: count it once.
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        slowest = None
        for sid in sorted(stage_ids):
            for sd in _seq(self.store.stageData(sid, False, self._no_status, False,
                                                self._no_quantiles)):
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numTasks()
                out["spark.failed_tasks"] += sd.numFailedTasks()
                for key, (getter, scale) in self.STAGE_FIELDS.items():
                    out[key] += getattr(sd, getter)() * scale
                run = sd.executorRunTime()
                if slowest is None or run > slowest[0]:
                    slowest = (run, sid, sd.attemptId())
        if slowest is not None:
            runs = []
            for td in _seq(self.store.taskList(slowest[1], slowest[2], 10_000)):
                tm = td.taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            if runs and statistics.median(runs) > 0:
                out["spark.task_skew"] = max(runs) / statistics.median(runs)
        return out

    def python_bytes(self, timeout: float = 10.0) -> dict[int, tuple[float, float]]:
        """Bytes sent to and returned from Python workers, per Spark job
        id, over every retained SQL execution. Call once at the end: the
        SQL status store aggregates an execution's metrics asynchronously
        after it ends, so this waits until every execution has ended."""
        deadline = time.monotonic() + timeout
        while True:
            execs = _seq(self.sql.executionsList())
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        out: dict[int, tuple[float, float]] = {}
        for e in execs:
            job_ids = [int(j) for j in _seq(e.jobs().keys().toSeq())]
            if not job_ids:
                continue
            values = self.sql.executionMetrics(e.executionId())
            totals = {self.PY_SENT: 0.0, self.PY_RECV: 0.0}
            seen = set()
            for m in _seq(e.metrics()):
                acc = m.accumulatorId()
                if acc in seen or m.name() not in totals:
                    continue
                seen.add(acc)
                v = values.get(acc)
                totals[m.name()] += _parse_size_metric(v.get() if v.isDefined() else None)
            out[min(job_ids)] = (totals[self.PY_SENT], totals[self.PY_RECV])
        return out


# --- streaming listener ----------------------------------------------------


def make_stream_probe(spark):
    """Register and return a listener that records micro-batch progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.run_ids: list[str] = []
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "late_rows_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            }
            with self.lock:
                self.batches.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> tuple[list[str], list[dict]]:
            """Run ids and batches recorded since the last call."""
            with self.lock:
                out = (self.run_ids, self.batches)
                self.run_ids, self.batches = [], []
            return out

    probe = StreamProbe()
    spark.streams.addListener(probe)
    return probe
