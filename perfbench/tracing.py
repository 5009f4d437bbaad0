"""Spans recorded around the benchmark's calls into lab_etl_spark, and the
Spark event-log reader that turns one traced run into per-layer counters.

A span is (id, parent, name, op, start, end); spans nest as
workload > pass > op > call and stay in memory until the run ends.  Spark
work is attributed to ops through the job group the benchmark sets before
each op, so the event log needs no span of its own.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a function that records a ``name``
        span around each call (traced runs only)."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its direct children cover
    (children of one span never overlap: calls are sequential)."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def install_call_spans(tracer: Tracer) -> None:
    """Span the calls lab_etl_spark makes between its own layers, where the
    benchmark cannot put a span around them from outside: etl_file's load
    and sink, the single-file BLAKE2b, and the unit gate."""
    from lab_etl_spark import api, meta
    from lab_etl_spark.sources import text_formats

    tracer.wrap(api, "load_file", "sources.load")
    tracer.wrap(api, "write_parquet", "sources.sink")
    tracer.wrap(meta, "check_unit_consistency", "meta.unit_gate")
    tracer.wrap(meta, "file_blake2b", "meta.hash")
    tracer.wrap(text_formats, "file_blake2b", "meta.hash")


# ---------------------------------------------------------------------------
# Spark event log -> per-job-group counters
# ---------------------------------------------------------------------------

#: SQL plan nodes that run Python workers (mapInPandas / mapInArrow)
_PYTHON_NODES = {"MapInPandas", "PythonMapInArrow", "MapInArrow"}
_PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "number of output rows": "python.rows_received",
}

COUNTERS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_ms",
    "spark.task_cpu_ms",
    "spark.gc_ms",
    "spark.deserialize_ms",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_records",
    "spark.fetch_wait_ms",
    "spark.spill_bytes",
    "python.bytes_sent",
    "python.rows_received",
]


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.get("nodeName") in _PYTHON_NODES:
            for m in node.get("metrics", []):
                key = _PYTHON_METRICS.get(m.get("name"))
                if key:
                    out[m["accumulatorId"]] = key
        stack.extend(node.get("children", []))


def _event_lines(log_dir: str, app_id: str):
    """Events of one application, whether logged as one file or (Spark 4's
    default) as a directory of rolled ``events_<n>_<app>`` files."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        names = [f for f in os.listdir(rolled) if f.startswith("events_")]
        names.sort(key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(rolled, f) for f in names]
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group: {group: {counter: value}}."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}
    task_ends = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                out[group]["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                out[stage_group[sid]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    for ev in task_ends:
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        c = out[group]
        c["spark.tasks"] += 1
        m = ev.get("Task Metrics") or {}
        c["spark.task_run_ms"] += m.get("Executor Run Time", 0)
        c["spark.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        c["spark.gc_ms"] += m.get("JVM GC Time", 0)
        c["spark.deserialize_ms"] += m.get("Executor Deserialize Time", 0)
        c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        c["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        c["spark.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        c["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["spark.shuffle_records"] += sw.get("Shuffle Records Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            key = py_acc.get(acc.get("ID"))
            if key and acc.get("Update") is not None:
                c[key] += int(acc["Update"])
    return dict(out)


class PlanListener:
    """Planning time (analysis + optimization + physical planning) of every
    SQL execution the session runs, eager ones inside ``Query.fn`` included:
    a JVM ``QueryExecutionListener`` implemented through the py4j callback
    server.  ``take()`` waits for the listener bus and returns the
    milliseconds reported since the last call.  A query execution that runs
    several actions is planned once and counted once."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._identity = self._sc._jvm.java.lang.System.identityHashCode
        self._seen: set[int] = set()
        self._ms = 0.0
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        key = self._identity(qe)
        if key in self._seen:
            return
        self._seen.add(key)
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self._ms += opt.get().durationMs()

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> float:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ms, self._ms = self._ms, 0.0
        return ms

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
