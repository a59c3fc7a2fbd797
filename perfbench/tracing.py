"""The traced run's instruments, all outside the package under test.

``Tracer`` keeps spans (name, start, end, parent) in memory around the
benchmark's calls into each layer.  ``SparkCounters`` reads what Spark
itself recorded for a job group: job/stage/task counts and executor
metrics from the JVM ``AppStatusStore`` (populated with the UI off),
and the Python-node SQL metrics from the SQL status store (batch) or
the micro-batch's executed plan (streaming).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import resource
import time

from pyspark.sql import SparkSession

# SQL metric display names on Python-evaluation plan nodes
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_ROWS = "number of output rows"

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: bytes for sizes, milliseconds
    for timings, the plain number for sums.  Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Spans kept in memory, written once when the run ends.  Disabled,
    ``span`` is a bare ``yield`` so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Per-job-group counts and executor metrics, read after the fact."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = -1

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def group(self, group_id: str) -> dict[str, float]:
        """Counts and executor totals for every job tagged ``group_id``."""
        self.settle()
        tracker = self.spark.sparkContext.statusTracker()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
             "executor_cpu_ms", "jvm_gc_ms", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0.0)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group_id):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["jvm_gc_ms"] += sd.jvmGcTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def python_nodes(self) -> dict[str, float]:
        """Python-worker time, bytes sent and rows returned, summed over
        the SQL executions that finished since the previous call."""
        self.settle()
        out = {"python_time_ms": 0.0, "python_bytes_sent": 0.0,
               "python_rows_received": 0.0}
        newest = self._seen_exec
        execs = self._sql.executionsList().iterator()
        while execs.hasNext():
            ex = execs.next()
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                by_name: dict[str, float] = {}
                metrics = nodes.next().metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        by_name[m.name()] = parse_sql_metric(v.get())
                if _PY_SENT in by_name:
                    out["python_time_ms"] += by_name.get(_PY_TIME, 0.0)
                    out["python_bytes_sent"] += by_name[_PY_SENT]
                    out["python_rows_received"] += by_name.get(_PY_ROWS, 0.0)
        self._seen_exec = newest
        return out

    def streaming_python(self) -> dict[str, float]:
        """The same Python-node metrics for the micro-batch the running
        streaming query is executing, read off its executed plan.  The
        DataFrame a ``foreachBatch`` sink receives is a scan of that
        plan's RDD, so the SQL status store never attributes these
        metrics to an execution; call this from inside the sink."""
        (query,) = self.spark.streams.active
        plan = query._jsq.streamingQuery().lastExecution().executedPlan()
        out = {"python_time_ms": 0.0, "python_bytes_sent": 0.0, "python_rows_received": 0.0}
        stack = [plan]
        while stack:
            node = stack.pop()
            metrics = node.metrics()
            if metrics.contains("pythonTotalTime"):
                out["python_time_ms"] += metrics.apply("pythonTotalTime").value()
                out["python_bytes_sent"] += metrics.apply("pythonDataSent").value()
                out["python_rows_received"] += metrics.apply("pythonNumRowsReceived").value()
            children = node.children().iterator()
            while children.hasNext():
                stack.append(children.next())
        return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and every live descendant: this driver, the JVM it
    launched and the JVM's Python workers.

    The JVM's JIT compiler threads are left out.  Their work is warm-up
    that moves between passes with timing (3-7 s of a 13-24 s registry
    pass, falling pass by pass), not work the program asks for.  The
    JVM must keep its compiler threads for its lifetime
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or an exiting
    compiler thread would fold its time back into the process total."""
    procs: dict[int, tuple[int, int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            procs[int(d)] = _stat(f"/proc/{d}/stat")
        except OSError:
            continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        _, used, comm = procs.get(pid, (0, 0, ""))
        ticks += used
        if comm == "java":
            ticks -= _jit_ticks(pid)
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _stat(path: str, reaped: bool = True) -> tuple[int, int, str]:
    """(parent pid, user + system ticks, command) from a ``/proc`` stat
    file; with ``reaped``, the ticks of reaped children are added (a
    thread's stat file repeats its process's, so threads pass False)."""
    with open(path) as fh:
        text = fh.read()
    head, tail = text.rsplit(")", 1)
    fields = tail.split()
    used = sum(int(f) for f in fields[11:15 if reaped else 13])
    return int(fields[1]), used, head.split("(", 1)[1]


_JIT_TIDS: dict[int, list[int]] = {}


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM ``pid``.  The
    threads are fixed for the JVM's lifetime, so they are looked up
    once, not among its hundreds of threads on every call."""
    if pid not in _JIT_TIDS:
        tids = []
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                with contextlib.suppress(OSError):
                    if "CompilerThre" in _stat(f"/proc/{pid}/task/{tid}/stat")[2]:
                        tids.append(int(tid))
        _JIT_TIDS[pid] = tids
    ticks = 0
    for tid in _JIT_TIDS[pid]:
        with contextlib.suppress(OSError):
            ticks += _stat(f"/proc/{pid}/task/{tid}/stat", reaped=False)[1]
    return ticks


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    ``/proc/stat``: the share of time the hypervisor gave this guest's
    CPUs to other guests, which slows every wall-clock number."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def driver_rss_peak_mb(spark: SparkSession) -> float:
    """High-water resident set of the driver: this Python process plus
    the JVM it launched (``VmHWM`` of the gateway process)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0

