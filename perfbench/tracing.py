"""Spans and Spark counters for the traced run.

Spans are kept in memory (name, start, end, parent) and written out once,
when the run ends. Spark counters are read from the outside, through public
handles: job groups and the status tracker for jobs, stages and tasks;
``QueryExecution.tracker()`` for the Catalyst phases; the SQL metrics of the
final (adaptive) physical plan for scan, shuffle, broadcast, spill and the
Python/Arrow operators. Counter reads happen between timed calls, and the
time they take is kept as the tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def bookkeeping(self):
        """Time spent reading counters: the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def coverage(tracer: Tracer, span: dict) -> float:
    """Share of ``span``'s wall that its direct children cover."""
    wall = duration(span)
    covered = sum(duration(c) for c in tracer.children(span["id"]))
    return covered / wall if wall > 0 else 1.0


class Py4JCallCounter:
    """Counts Python-to-JVM calls by wrapping the gateway client's
    ``send_command``; every py4j method call and field access goes
    through it."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return original(*args, **kwargs)

        client.send_command = counting


# SQL metric name -> (counter key, scale to seconds or bytes). Timing
# metrics are converted by their declared type (ms or ns).
_PLAN_METRICS = {
    "scanTime": "exec.scan_s",
    "filesSize": "exec.scan_bytes",
    "shuffleBytesWritten": "exec.shuffle_write_bytes",
    "shuffleWriteTime": "exec.shuffle_write_s",
    "collectTime": "exec.broadcast_s",
    "buildTime": "exec.broadcast_s",
    "broadcastTime": "exec.broadcast_s",
    "spillSize": "exec.spill_bytes",
    "pythonBootTime": "arrow.python_boot_s",
    "pythonInitTime": "arrow.python_init_s",
    "pythonTotalTime": "arrow.python_total_s",
    "pythonDataSent": "arrow.bytes_sent",
    "pythonDataReceived": "arrow.bytes_received",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_STAGE_NODES = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}
_REUSE_NODES = {"ReusedExchangeExec", "ReusedSubqueryExec"}


class SparkCounters:
    """Reads Spark's own counters for one session's context."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain_listener(self) -> None:
        """Wait until the status store has seen every posted event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def group_counts(self, group: str) -> dict:
        """Jobs, executed stages and completed tasks run under ``group``."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                st = tracker.getStageInfo(stage_id)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    @staticmethod
    def catalyst_phases(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for key, name in (
            ("analysis", "catalyst.analysis_ms"),
            ("optimization", "catalyst.optimization_ms"),
            ("planning", "catalyst.planning_ms"),
        ):
            opt = phases.get(key)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    @staticmethod
    def plan_metrics(df) -> dict:
        """Sum the SQL metrics of interest over the executed plan tree."""
        out = {key: 0.0 for key in set(_PLAN_METRICS.values())}
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            kind = node.getClass().getSimpleName()
            if kind in _REUSE_NODES:
                continue  # its metrics belong to the exchange it reuses
            if kind == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if kind in _STAGE_NODES:
                stack.append(node.plan())
                continue
            it = node.metrics().iterator()
            while it.hasNext():
                entry = it.next()
                key = _PLAN_METRICS.get(entry._1())
                if key is None:
                    continue
                metric = entry._2()
                scale = _TIME_SCALE.get(metric.metricType(), 1.0)
                out[key] += metric.value() * scale
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
            subs = node.subqueries()
            stack.extend(subs.apply(i) for i in range(subs.size()))
        return out
