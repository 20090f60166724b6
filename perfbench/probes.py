"""Measurement probes used by the traced run.

Everything here reads state the engine already exposes: the driver JVM's
scheduler counters and status store (through py4j), the executed plan's SQL
metrics, ``/proc`` for I/O and memory, and a ``StreamingQueryListener`` the
benchmark registers.  Nothing is added to the engine itself.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans: name, layer, start, end, parent id, attributes.

    Used from one thread at a time; spans nest through a stack, so the
    span open when another starts is its parent.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._wall0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def from_wall(self, iso: str) -> float:
        """An ISO-8601 wall-clock instant on this tracer's time axis."""
        return datetime.fromisoformat(iso).timestamp() - self._wall0

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> dict:
        rec = {"id": len(self.spans),
               "parent": self.current if parent is None else parent,
               "name": name, "layer": layer, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = self.add(name, layer, self.now(), float("nan"), **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()


def _proc_field(pid: int, name: str, key: str) -> int:
    with open(f"/proc/{pid}/{name}") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    raise KeyError(f"{key} not in /proc/{pid}/{name}")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    return _proc_field(pid, "status", "VmHWM:") / 1024.0


def write_bytes(pid: int) -> int:
    """Bytes the process has caused to be sent to storage so far."""
    return _proc_field(pid, "io", "write_bytes:")


class Jvm:
    """Driver-JVM counters read through py4j.

    Job and stage counts are deltas of the DAG scheduler's monotonic id
    counters, so they include jobs of every job group (streaming queries
    run under their own group).  Task attempts come from the status store
    once the listener bus has drained.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        ssc = sc._jsc.sc()  # noqa: SLF001 — no public handle for these
        self._dag = ssc.dagScheduler()
        self._store = ssc.statusStore()
        self._bus = ssc.listenerBus()
        self._jsc = sc._jsc  # noqa: SLF001
        self.pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001

    # py4j hands the AtomicInteger counters back as plain ints.
    def next_job(self) -> int:
        return self._dag.nextJobId()

    def next_stage(self) -> int:
        return self._dag.nextStageId()

    def persisted(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def drain(self) -> None:
        """Block until every listener (status store, streaming) has seen
        every event posted so far."""
        self._bus.waitUntilEmpty()

    def task_attempts(self, first_job: int, end_job: int) -> tuple[int, int]:
        """(attempted, failed) task attempts of jobs ``[first_job, end_job)``."""
        attempted = failed = 0
        for j in range(first_job, end_job):
            d = self._store.job(j)
            f = d.numFailedTasks()
            attempted += d.numCompletedTasks() + f + d.numKilledTasks()
            failed += f
        return attempted, failed


PYTHON_NODE_MARKERS = ("EvalPython", "InPandas", "InArrow")
SQL_METRICS = ("shuffle_bytes", "broadcast_bytes", "spill_bytes",
               "python_nodes", "scan_rows", "scan_bytes")


def plan_metrics(df) -> Counter:
    """SQL metrics summed over the executed (final adaptive) plan of ``df``.

    Descends through adaptive wrappers, query stages and subqueries; a
    reused exchange is skipped so its bytes are counted once.
    """
    out: Counter = Counter(dict.fromkeys(SQL_METRICS, 0))
    stack = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue
        if any(m in name for m in PYTHON_NODE_MARKERS):
            out["python_nodes"] += 1
        metrics = node.metrics()
        keys = set(str(metrics.keySet().mkString(",")).split(","))

        def value(key: str) -> int:
            return int(metrics.apply(key).value()) if key in keys else 0

        if name == "Exchange":
            out["shuffle_bytes"] += value("shuffleBytesWritten")
        elif name == "BroadcastExchange":
            out["broadcast_bytes"] += value("dataSize")
        if name.startswith("Scan") or name.startswith("BatchScan"):
            out["scan_rows"] += value("numOutputRows")
            out["scan_bytes"] += value("filesSize")
        out["spill_bytes"] += value("spillSize")
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return out


class StreamProgress(StreamingQueryListener):
    """Collects (input rows, trigger seconds, trigger start) per
    micro-batch.  Events arrive on the py4j callback thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[tuple[int, float, str]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ms = p.durationMs.get("triggerExecution", 0)
        with self._lock:
            self._events.append((int(p.numInputRows), ms / 1000.0, p.timestamp))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def mark(self) -> int:
        with self._lock:
            return len(self._events)

    def since(self, mark: int) -> list[tuple[int, float, str]]:
        with self._lock:
            return self._events[mark:]


def conf_snapshot(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


def conf_changes(before: dict[str, str], after: dict[str, str]) -> int:
    """Number of session conf keys added, removed or changed."""
    return sum(1 for k in before.keys() | after.keys() if before.get(k) != after.get(k))

