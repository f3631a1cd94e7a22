"""Spans around public calls, and a pure-Python Spark event-log parser
that attributes each Spark job to the span that issued it.

The benchmark drives the engine from a single thread, so a job belongs
to the innermost span whose [start, end] interval contains the job's
submit time. This holds for jobs submitted from helper threads inside
a call too (the index build uses a thread pool), which is why the
attribution goes by time and not by Spark job groups.

Times are epoch milliseconds on both sides: spans read time.time(),
the event log records the JVM's System.currentTimeMillis().
"""

from __future__ import annotations

import json
import statistics
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Timer for every timed call; also keeps spans when enabled.

    `timed(name)` yields a dict; after the block, `d["s"]` holds the
    perf_counter duration in seconds. With tracing enabled each block
    is also recorded as a Span, with any other keys the block put in
    the dict as attributes. Spans stay in memory; the runner writes
    them out at the end. Spans opened inside another share its
    operation id.
    """

    def __init__(self, enabled: bool, rdd_count=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        # counts cached RDDs around each span (persisted-RDD delta)
        self._rdd_count = rdd_count if enabled else None

    @contextmanager
    def timed(self, name: str, **attrs):
        out: dict = {}
        span = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self._next_op += 1
            span = Span(
                sid=len(self.spans),
                name=name,
                op_id=parent.op_id if parent else self._next_op,
                parent=parent.sid if parent else None,
                start_ms=0.0,
                attrs=dict(attrs),
            )
            if self._rdd_count is not None:
                span.attrs["rdds_before"] = self._rdd_count()
            self.spans.append(span)
            self._stack.append(span)
            span.start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["s"] = time.perf_counter() - t0
            if span is not None:
                span.end_ms = time.time() * 1000.0
                self._stack.pop()
                span.attrs.update((k, v) for k, v in out.items() if k != "s")
                if self._rdd_count is not None:
                    span.attrs["rdds_after"] = self._rdd_count()


# ------------------------------------------------------------ event log
def parse_event_log(lines: Iterable[str]) -> tuple[dict, dict, list[dict]]:
    """Spark JSON event log -> (jobs, stage_to_job, tasks).

    jobs: job id -> {"submit": ms, "stages": [stage ids]}.
    stage_to_job: a stage belongs to the first job that lists it (a
    later job that lists the same stage skips it, running no tasks).
    tasks: one dict per SparkListenerTaskEnd with the fields below.
    """
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = int(ev["Job ID"])
            stages = [int(s) for s in ev.get("Stage IDs", [])]
            jobs[jid] = {"submit": float(ev["Submission Time"]), "stages": stages}
            for s in stages:
                stage_to_job.setdefault(s, jid)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            im = m.get("Input Metrics") or {}
            om = m.get("Output Metrics") or {}
            tasks.append({
                "stage": int(ev["Stage ID"]),
                "launch": float(info.get("Launch Time", 0)),
                "finish": float(info.get("Finish Time", 0)),
                "run_ms": float(m.get("Executor Run Time", 0)),
                "gc_ms": float(m.get("JVM GC Time", 0)),
                "result_bytes": int(m.get("Result Size", 0)),
                "spill_bytes": int(m.get("Disk Bytes Spilled", 0)),
                "shuffle_read_bytes": int(sr.get("Remote Bytes Read", 0))
                + int(sr.get("Local Bytes Read", 0)),
                "shuffle_write_bytes": int(sw.get("Shuffle Bytes Written", 0)),
                "input_records": int(im.get("Records Read", 0)),
                "output_bytes": int(om.get("Bytes Written", 0)),
            })
    return jobs, stage_to_job, tasks


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, int]:
    """job id -> span id: the innermost span containing the submit time.
    With one issuing thread spans nest, so the innermost containing
    span is the one that started last."""
    out: dict[int, int] = {}
    for jid, job in jobs.items():
        best = None
        for s in spans:
            if s["start_ms"] <= job["submit"] <= s["end_ms"]:
                if best is None or s["start_ms"] >= best["start_ms"]:
                    best = s
        if best is not None:
            out[jid] = best["sid"]
    return out


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


SUM_FIELDS = (
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "result_bytes", "input_records",
)


def span_costs(spans: list[dict], lines: Iterable[str]) -> dict[int, dict]:
    """span id -> Spark cost of the jobs attributed to it (own jobs
    only, not those of child spans):

    jobs, stages (stages that ran at least one task), tasks,
    exec_run_s, gc_s, the SUM_FIELDS byte/record sums, wall_s,
    driver_s (span wall time minus the time covered by at least one
    running task of its jobs), and max_task_over_median (slowest task
    over the median task duration, in the stage with the most tasks).
    """
    jobs, stage_to_job, tasks = parse_event_log(lines)
    job_span = attribute_jobs(spans, jobs)
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    out: dict[int, dict] = {}
    for s in spans:
        own_jobs = [j for j, sid in job_span.items() if sid == s["sid"]]
        stages = sorted(
            st for st, j in stage_to_job.items()
            if j in own_jobs and st in by_stage
        )
        ts = [t for st in stages for t in by_stage[st]]
        wall_ms = s["end_ms"] - s["start_ms"]
        busy = _covered_ms(
            [(t["launch"], t["finish"]) for t in ts], s["start_ms"], s["end_ms"]
        )
        c = {
            "wall_s": wall_ms / 1000.0,
            "jobs": len(own_jobs),
            "stages": len(stages),
            "tasks": len(ts),
            "exec_run_s": sum(t["run_ms"] for t in ts) / 1000.0,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
            "driver_s": max(wall_ms - busy, 0.0) / 1000.0,
            "max_task_over_median": 0.0,
        }
        for f in SUM_FIELDS:
            c[f] = sum(t[f] for t in ts)
        if stages:
            widest = max(stages, key=lambda st: (len(by_stage[st]), st))
            durs = [t["finish"] - t["launch"] for t in by_stage[widest]]
            c["max_task_over_median"] = max(durs) / max(statistics.median(durs), 1.0)
        out[s["sid"]] = c
    return out
