"""Tracing from outside the engine.

``Tracer`` wraps the public functions of the engine's layer modules at
their module attribute and at every ``from … import`` rebinding in the
engine's other modules, and records one span per call: name, start,
end and parent. Spans stay in memory until ``write``.

``SparkProbe`` reads Spark's own status stores (jobs, stages, SQL
executions, JVM GC) before an operation and after it, so each
operation's engine work is attributed without the Spark UI.

``StreamProbe`` is a streaming-query listener that keeps each
micro-batch's progress (input rows and phase durations).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

ENGINE = "flirt_consume_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [id, name, start, end, parent_id, op]
        self.op: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around a block the benchmark runs itself."""
        rec = self._open(name)
        try:
            yield
        finally:
            self._close(rec)

    def _open(self, name: str) -> list:
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [next(self._ids), name, time.perf_counter(), 0.0,
               stack[-1][0] if stack else -1, self.op]
        self.spans.append(rec)
        stack.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[3] = time.perf_counter()
        self._local.stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(rec)

        return traced

    def install(self, layers: dict[str, object]) -> None:
        """Wrap every public function defined in each module of
        ``layers`` ({span prefix: module}); the span is named
        ``<prefix>.<function>``."""
        engine_mods = _engine_modules()
        for prefix, mod in layers.items():
            for attr, fn in inspect.getmembers(mod, inspect.isfunction):
                if attr.startswith("_") or fn.__module__ != mod.__name__:
                    continue
                traced = self._wrap(f"{prefix}.{attr}", fn)
                for other, name in _bindings(fn, engine_mods):
                    self._patches.append((other, name, fn))
                    setattr(other, name, traced)

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patches):
            setattr(mod, name, fn)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its direct children cover."""
        child = defaultdict(float)
        for _id, _n, start, end, parent, _op in self.spans:
            if parent >= 0:
                child[parent] += end - start
        return {s[0]: (s[3] - s[2]) - child[s[0]] for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sid, name, start, end, parent, op in self.spans:
                fh.write(json.dumps({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": op, "self_s": selfs[sid],
                }) + "\n")


def _engine_modules() -> list:
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n == ENGINE or n.startswith(ENGINE + "."))]


def _bindings(fn, modules) -> list[tuple[object, str]]:
    """Every (module, attribute) of ``modules`` bound to ``fn``."""
    return [(m, name) for m in modules
            for name, value in list(vars(m).items()) if value is fn]


@contextlib.contextmanager
def patched(fn, replacement):
    """Bind ``replacement`` wherever the engine binds ``fn``, for the block."""
    where = _bindings(fn, _engine_modules())
    for mod, name in where:
        setattr(mod, name, replacement)
    try:
        yield
    finally:
        for mod, name in where:
            setattr(mod, name, fn)


STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_s": "executorRunTime",
    "executor_cpu_s": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
}


class SparkProbe:
    """Deltas of Spark's status stores across one operation.

    Jobs are numbered in launch order, so the jobs an operation
    launched are those between the job counter before it and after it,
    whichever thread (main, streaming) launched them. Stages are read
    right after the operation, before the store's retention limit
    (1000 stages) can evict them."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc = list(
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self._tracker = spark.sparkContext.statusTracker()
        self._seen_stages: set[int] = set()

    def mark(self) -> dict:
        return {
            "job": self._dag.numTotalJobs(),
            "sql": self._sql.executionsCount(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc),
        }

    def delta(self, before: dict, after: dict) -> dict:
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update(
            jobs=after["job"] - before["job"],
            sql_executions=after["sql"] - before["sql"],
            jvm_gc_s=(after["gc_ms"] - before["gc_ms"]) / 1e3,
            stages=0,
        )
        for job in range(before["job"], after["job"]):
            info = self._tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # The store holds no data for this stage.
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for k, getter in STAGE_FIELDS.items():
                    out[k] += getattr(sd, getter)()
        out["executor_run_s"] /= 1e3
        out["executor_cpu_s"] /= 1e9
        return out


class StreamProbe(StreamingQueryListener):
    """Collects per-trigger progress of every streaming query."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cond:
            self.progress.append(
                {"rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self.terminated += 1
            self._cond.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have reported termination; progress
        events of a query are delivered before its termination event."""
        with self._cond:
            if not self._cond.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError("streaming listener missed a termination")
