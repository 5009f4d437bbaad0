"""Span self time, the event-log reader and the record diff, on synthetic
inputs (no Spark session).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import diff  # noqa: E402
from tracing import Tracer, read_event_log, self_times  # noqa: E402


def test_self_time_subtracts_direct_children():
    spans = [
        {"id": 0, "parent": None, "name": "op", "op": "t|a|0", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "build", "op": "t|a|0", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "name": "hash", "op": "t|a|0", "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "name": "action", "op": "t|a|0", "start": 5.0, "end": 9.0},
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", op="x"):
        pass
    assert tr.spans == []


def test_event_log_counters_per_job_group(tmp_path):
    app = "local-1"
    rolled = tmp_path / f"eventlog_v2_{app}"
    rolled.mkdir()
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task Info": {"Accumulables": [{"ID": 7, "Update": 120}]},
        "Task Metrics": {
            "Executor Run Time": 30,
            "Executor CPU Time": 20_000_000,
            "JVM GC Time": 1,
            "Executor Deserialize Time": 2,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 1000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 50, "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 60, "Shuffle Records Written": 6},
        },
    }
    events = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {
                "nodeName": "Project",
                "metrics": [],
                "children": [
                    {
                        "nodeName": "MapInPandas",
                        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
                        "children": [],
                    }
                ],
            },
        },
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "t|bulk|0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        task,
        task,
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {}},
        {**task, "Stage ID": 1},
    ]
    half = len(events) // 2
    for i, chunk in ((1, events[:half]), (2, events[half:])):
        (rolled / f"events_{i}_{app}").write_text("".join(json.dumps(e) + "\n" for e in chunk))
    got = read_event_log(str(tmp_path), app)
    assert list(got) == ["t|bulk|0"]
    c = got["t|bulk|0"]
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (1, 1, 2)
    assert (c["spark.task_run_ms"], c["spark.task_cpu_ms"]) == (60, 40.0)
    assert (c["spark.input_bytes"], c["spark.shuffle_read_bytes"]) == (2000, 100)
    assert c["python.rows_received"] == 240


def _record(workload, trace, pass_ref_s, self_s=None):
    rec = {
        "fingerprint": {"workload": workload, "trace": trace},
        "e2e": {"pass_ref_s": pass_ref_s},
        "ingest": {},
    }
    if self_s is not None:
        rec["self_s"] = self_s
    return rec


def test_diff_names_the_layer_that_moved(tmp_path):
    base = {"iterative": [_record("iterative", 1, 6.0, {"queries.build": 5.0, "spark.action": 0.5})]}
    new = {
        "iterative": [
            _record("iterative", 1, 4.5, {"queries.build": 3.4, "spark.action": 0.6}),
            _record("iterative", 0, 4.0),
        ]
    }
    out = diff.diff(base, new)
    assert "self time moved most: queries.build -1.6000" in out
    assert "e2e:pass_ref_s" in out
    assert "tracing overhead pass_ref_s" in out
