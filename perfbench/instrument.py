"""Measurement plumbing: a span recorder with self time, a Spark
status-store collector, and a process-tree RSS sampler.

The collector reads what Spark already records, with the UI disabled: every
operation runs under its own job group, the listener bus is drained, and
then the stage data (``AppStatusStore.lastStageAttempt``) and the SQL plan
metrics (``SQLAppStatusStore.planGraph``/``executionMetrics``) of that
operation's jobs and executions are read.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Nested wall-clock spans. ``self_s[name]`` is the time inside a span
    minus the time inside its direct child spans; ``total_s[name]`` the full
    time. A span name may repeat; its times add up."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.total_s: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.count: dict[str, int] = defaultdict(int)
        self._stack: list[list] = []  # [name, start, child_time]

    @contextmanager
    def span(self, name: str):
        frame = [name, self.clock(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            dur = self.clock() - frame[1]
            self.total_s[name] += dur
            self.self_s[name] += dur - frame[2]
            self.count[name] += 1
            if self._stack:
                self._stack[-1][2] += dur


class NullSpans:
    """Untraced runs: the same interface, no bookkeeping."""

    @contextmanager
    def span(self, name: str):
        yield


# --- Spark status store --------------------------------------------------

_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"12"``, ``"1.5 MiB"`` or the
    multi-task form ``"total (min, med, max ...)\\n3.0 MiB (...)"``."""
    text = str(text)
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE.match(body.strip())
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.match(r"\s*([\d.,]+)", body)
    return float(m.group(1).replace(",", "")) if m else 0.0


class SparkCollector:
    """Per-operation Spark runtime metrics for one SparkSession."""

    STAGE_KEYS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
        "spark.shuffle_read_mb", "spark.spill_mb", "spark.task_skew",
        "spark.driver_s", "operators.python_rows", "operators.python_sent_mb",
        "operators.python_returned_mb",
    )

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._n = 0

    def _list(self, seq):
        return list(self.conv.asJava(seq))

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def operation(self, name: str, out: dict):
        """Run the body under a fresh job group; afterwards fill ``out``
        with the operation's stage and SQL metrics."""
        self._n += 1
        group = f"bench-{self._n}-{name}"
        n_exec = self.sql_store.executionsCount()
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.drain()
            out.update(self._collect(group, n_exec, t0, t1))

    def _collect(self, group: str, n_exec: int, t0: float, t1: float) -> dict:
        m = dict.fromkeys(self.STAGE_KEYS, 0.0)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        m["spark.jobs"] = len(job_ids)
        intervals = []
        skews = []
        for jid in job_ids:
            job = self.store.job(jid)
            for sid in self._list(job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numTasks()
                m["spark.executor_run_s"] += st.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.gc_s"] += st.jvmGcTime() / 1e3
                m["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                m["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                m["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                if st.submissionTime().isDefined() and st.completionTime().isDefined():
                    intervals.append((st.submissionTime().get().getTime() / 1e3,
                                      st.completionTime().get().getTime() / 1e3))
                if st.numTasks() >= 2:
                    runs = [
                        t.taskMetrics().get().executorRunTime()
                        for t in self._list(
                            self.store.taskList(sid, st.attemptId(), st.numTasks()))
                        if t.taskMetrics().isDefined()
                    ]
                    med = statistics.median(runs) if runs else 0
                    if med > 0:
                        skews.append(max(runs) / med)
        m["spark.task_skew"] = statistics.fmean(skews) if skews else 1.0
        m["spark.driver_s"] = max(0.0, (t1 - t0) - covered(intervals, t0, t1))
        n_now = self.sql_store.executionsCount()
        if n_now > n_exec:
            for ex in self._list(self.sql_store.executionsList(n_exec, n_now - n_exec)):
                self._python_metrics(ex.executionId(), m)
        return m

    def _python_metrics(self, exec_id: int, m: dict) -> None:
        values = self.sql_store.executionMetrics(exec_id)
        graph = self.sql_store.planGraph(exec_id)
        for node in self._list(graph.allNodes()):
            if not _PY_NODE.search(node.name()):
                continue
            for metric in self._list(node.metrics()):
                name = metric.name()
                opt = values.get(metric.accumulatorId())  # scala Option
                if opt is None or not opt.isDefined():
                    continue
                v = opt.get()
                if name == "data sent to Python workers":
                    m["operators.python_sent_mb"] += parse_metric(v) / 1e6
                elif name == "data returned from Python workers":
                    m["operators.python_returned_mb"] += parse_metric(v) / 1e6
                elif name == "number of output rows":
                    m["operators.python_rows"] += parse_metric(v)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# --- memory ---------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the driver JVM
    and the Python workers), skipping the subtrees rooted at ``exclude``."""

    PERIOD_S = 0.1

    def __init__(self, exclude: set[int] | None = None) -> None:
        self.exclude = exclude or set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
