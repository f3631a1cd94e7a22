#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds every index fresh under
.bench_run/ (removed at exit) on a local[<nproc>] Spark session
started with the program's own session.get_spark.

--trace 0 prints the end-to-end metrics; --trace 1 turns on Spark's
event log, keeps a span around every timed public call, attributes
each Spark job to its span, and prints the per-layer metrics. Either
way the last stdout line is
{"correct", "attempted", "failed", "metrics"}, and the full detail
(samples, span costs, errors) goes to
.bench_run/results/<workload>-<seed>-trace<0|1>.json.
Exit status: 0 when every checked result was right, 1 when one was
wrong, 2 when the program is missing or the run broke.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve", "adhoc")

# end-to-end metrics: name -> unit (README.md: what each role times)
E2E = {
    "setup_s": "s",
    "op1_p50_s": "s",
    "op2_p50_s": "s",
    "op3_p50_s": "s",
}


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def start_spark(work: Path, trace: bool, nproc: int):
    """local[nproc] session whose scratch, temp and event-log files
    stay under `work`; workers import the program from ROOT."""
    tmp = work / "tmp"
    local = work / "local"
    events = work / "events"
    for d in (tmp, local, events):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from mario_spark.session import get_spark

    conf = {
        "spark.local.dir": str(local),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        # uncompressed: Spark 4 defaults to zstd, whose Python module
        # the parser would need
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": events.as_uri(),
        })
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of this Python driver plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes)
    and wait for it."""
    proc = jvm_proc()
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def event_log_lines(events: Path) -> list[str]:
    """Lines of every event-log file under `events`, in order. Spark 4
    writes a rolling log: a directory of events_<n>_<app> files."""
    def order(f: Path):
        parts = f.name.split("_")
        return (str(f.parent), int(parts[1]) if parts[0] == "events" else 0)

    files = [
        f for f in events.rglob("*")
        if f.is_file() and not f.name.startswith((".", "appstatus"))
    ]
    return [line for f in sorted(files, key=order) for line in f.read_text().splitlines()]


def e2e_metrics(res) -> dict:
    vals = {
        "setup_s": res.setup_s,
        "op1_p50_s": statistics.median(res.samples["op1"]),
        "op2_p50_s": statistics.median(res.samples["op2"]),
        "op3_p50_s": statistics.median(res.samples["op3"]),
    }
    return {k: {"value": float(v), "unit": E2E[k]} for k, v in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "mario_spark" / "__init__.py").is_file():
        print(f"perfbench: no mario_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]

    base = ROOT / ".bench_run"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(work, trace, nproc)
        _log(f"spark up, local[{nproc}]")
        from spans import Tracer, span_costs
        from workloads import WORKLOADS as RUN, Ctx

        sc = spark.sparkContext
        tracer = Tracer(trace, rdd_count=lambda: sc._jsc.getPersistentRDDs().size())
        ctx = Ctx(spark, tracer, work, args.seed, args.seconds, nproc, T_START, _log)
        res = RUN[args.workload](ctx)
        _log(f"{args.workload}: {res.attempted} ops, {res.failed} failed, "
             + ", ".join(f"{k}={len(v)}" for k, v in res.samples.items()))
        extra: dict = {}
        if trace:
            import layers

            extra.update(layers.index_props(res))
            extra.update(layers.probes(ctx))
            extra["proc.peak_rss_mb"] = peak_rss_mb()
        stop_spark(spark)
        spark = None
        out = {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed}
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "samples": res.samples, "errors": res.errors, "props": res.props,
        }
        detail["e2e"] = e2e_metrics(res) if all(res.samples.values()) else {}
        if trace:
            spans = [s.__dict__ for s in tracer.spans]
            costs = span_costs(spans, event_log_lines(work / "events"))
            detail["spans"] = [dict(s, cost=costs[s["sid"]]) for s in spans]
            out["metrics"] = layers.metrics(spans, costs, extra)
        else:
            out["metrics"] = detail["e2e"]
        (base / "results").mkdir(parents=True, exist_ok=True)
        (base / "results" / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(detail, indent=1)
        )
        for e in res.errors:
            _log(f"WRONG: {e}")
        if not out["metrics"]:
            _log("no samples for some operation class")
            return 2
        print(json.dumps(out), flush=True)
        return 0 if out["correct"] else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
