"""Event-log parser and span attribution, on a hand-written event log.

    python -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

from spans import Tracer, attribute_jobs, parse_event_log, span_costs  # noqa: E402

SPANS = [
    {"sid": 0, "name": "outer", "op_id": 1, "parent": None,
     "start_ms": 1000.0, "end_ms": 2000.0, "attrs": {}},
    {"sid": 1, "name": "inner", "op_id": 1, "parent": 0,
     "start_ms": 1200.0, "end_ms": 1500.0, "attrs": {}},
]


def _job(jid, submit, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submit, "Stage IDs": stages, "Stage Infos": []}


def _task(stage, launch, finish, run=0, gc=0, sw=0, disk_spill=0,
          mem_spill=0, remote=0, local=0, out=0, result=0, records=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Type": "ResultTask", "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Task ID": 0, "Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run, "JVM GC Time": gc, "Result Size": result,
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Input Metrics": {"Bytes Read": 0, "Records Read": records},
            "Output Metrics": {"Bytes Written": out, "Records Written": 0},
        },
    }


EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # job 0 in the outer span's own time; job 1 inside the inner span
    # lists stage 1 again, which job 0 ran (skipped in job 1); job 2 is
    # outside every span
    _job(0, 1050, [0, 1]),
    _task(0, 1060, 1100, run=30, gc=5, sw=100, disk_spill=7, mem_spill=1000),
    _task(0, 1060, 1160, run=90, sw=200),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(1, 1170, 1190, run=15, out=50, result=10),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1195},
    _job(1, 1250, [1, 2]),
    _task(2, 1260, 1270, run=8, remote=30, local=20, records=4),
    _task(2, 1260, 1280, run=18, records=4),
    _task(2, 1300, 1400, run=95, records=4),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1410},
    _job(2, 2500, [3]),
    _task(3, 2510, 2520, run=9, sw=999),
]
LINES = [json.dumps(e) for e in EVENTS] + [""]


def test_parse_and_attribute():
    jobs, stage_to_job, tasks = parse_event_log(LINES)
    assert sorted(jobs) == [0, 1, 2]
    assert stage_to_job == {0: 0, 1: 0, 2: 1, 3: 2}
    assert len(tasks) == 7
    assert attribute_jobs(SPANS, jobs) == {0: 0, 1: 1}


def test_span_costs():
    c = span_costs(SPANS, LINES)
    outer, inner = c[0], c[1]
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (1, 2, 3)
    assert outer["exec_run_s"] == pytest.approx(0.135)
    assert outer["gc_s"] == pytest.approx(0.005)
    assert outer["shuffle_write_bytes"] == 300
    assert outer["spill_bytes"] == 7  # disk spill only
    assert (outer["output_bytes"], outer["result_bytes"]) == (50, 10)
    assert outer["shuffle_read_bytes"] == 0
    # 1000 ms wall, tasks cover [1060,1160] + [1170,1190] = 120 ms
    assert outer["driver_s"] == pytest.approx(0.88)
    # widest stage is stage 0: durations 40 and 100 ms, median 70
    assert outer["max_task_over_median"] == pytest.approx(100 / 70)
    assert outer["wall_s"] == pytest.approx(1.0)

    # job 1's stage 1 belongs to job 0, so only stage 2 counts here
    assert (inner["jobs"], inner["stages"], inner["tasks"]) == (1, 1, 3)
    assert inner["shuffle_read_bytes"] == 50
    assert inner["input_records"] == 12
    # 300 ms wall, tasks cover [1260,1280] + [1300,1400] = 120 ms
    assert inner["driver_s"] == pytest.approx(0.18)
    # durations 10, 20, 100 ms: slowest over median = 5
    assert inner["max_task_over_median"] == pytest.approx(5.0)


def test_tracer_nesting_and_attrs():
    tr = Tracer(True, rdd_count=lambda: 0)
    with tr.timed("a") as t:
        with tr.timed("b", queries=3) as u:
            u["rows"] = 7
    with tr.timed("c"):
        pass
    a, b, c = tr.spans
    assert t["s"] >= 0 and u["s"] >= 0
    assert (a.parent, b.parent, c.parent) == (None, a.sid, None)
    assert a.op_id == b.op_id != c.op_id
    assert b.attrs == {"queries": 3, "rows": 7, "rdds_before": 0, "rdds_after": 0}
    assert a.start_ms <= b.start_ms <= b.end_ms <= a.end_ms
    off = Tracer(False)
    with off.timed("x") as t:
        pass
    assert off.spans == [] and t["s"] >= 0


def test_benchmark_json_lists_every_metric():
    import layers
    import run

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E.values())
    assert spec["per_layer"] == layers.per_layer_spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
