#!/usr/bin/env python3
"""Steadiness report: run each workload repeatedly and report, per
metric, the median, the quartiles and the spread (q3 - q1) / median,
with the CPU steal of every run beside it.

    python3 perfbench/steadiness.py --seeds 1,2,3,4,5,6,7,8,9,10
    python3 perfbench/steadiness.py --seeds 7,8 --repeat 5   # two seeds, 5 runs each
    python3 perfbench/steadiness.py --seeds 1,2,3 --traced-seeds 1,2  # + overhead

Quartiles are Python's statistics.quantiles(values, n=4).
--traced-seeds also runs those seeds with --trace 1 and reports the
tracing overhead: the traced runs' end-to-end median minus the plain
runs' median. Runs are sequential: the benchmark is meant to have the
host to itself. Prints one JSON document; a copy goes to
.bench_run/steadiness/<time>.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT / "scripts"))

from box_calibration import steal_jiffies  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    b0, s0 = steal_jiffies()
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    b1, s1 = steal_jiffies()
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    rec = {
        "workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
        "wall_s": round(wall, 2),
        "steal_pct": round(100.0 * (s1 - s0) / max(b1 - b0 + s1 - s0, 1), 3),
        "result": out,
    }
    if trace:
        detail = ROOT / ".bench_run" / "results" / f"{workload}-{seed}-trace1.json"
        rec["traced_e2e"] = json.loads(detail.read_text()).get("e2e", {})
    if p.returncode != 0:
        rec["stderr_tail"] = p.stderr.strip().splitlines()[-5:]
    print(f"{workload} seed={seed} trace={trace} exit={p.returncode} "
          f"wall={wall:.1f}s steal={rec['steal_pct']}%", file=sys.stderr, flush=True)
    return rec


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "n": len(values), "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="serve,adhoc")
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--repeat", type=int, default=1, help="runs per seed")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--traced-seeds", default="", help="also run these with --trace 1")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [int(s) for s in args.seeds.split(",")]

    runs, report = [], {}
    for w in args.workloads.split(","):
        plain = [run_once(w, s, seconds, 0) for s in seeds for _ in range(args.repeat)]
        runs += plain
        ok = [r["result"] for r in plain if r["exit"] == 0]
        rep = {"runs": len(plain), "failed_runs": len(plain) - len(ok),
               "wall_s": summarize([r["wall_s"] for r in plain]),
               "steal_pct": [r["steal_pct"] for r in plain], "metrics": {}}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in ok]
            if vals:
                sm = summarize(vals)
                rep["metrics"][name] = dict(
                    sm, bound=bounds[name], within_third=sm["spread"] < bounds[name] / 3
                )
        if args.traced_seeds:
            traced = [run_once(w, int(s), seconds, 1) for s in args.traced_seeds.split(",")]
            runs += traced
            rep["tracing_overhead"] = {}
            for name in bounds:
                tv = [r["traced_e2e"][name]["value"] for r in traced if r["traced_e2e"]]
                if tv and name in rep["metrics"]:
                    plain_med = rep["metrics"][name]["median"]
                    rep["tracing_overhead"][name] = {
                        "traced_median": statistics.median(tv),
                        "plain_median": plain_med,
                        "delta": statistics.median(tv) - plain_med,
                    }
        report[w] = rep
    doc = {"seconds": seconds, "seeds": seeds, "repeat": args.repeat,
           "report": report, "runs": runs}
    out = ROOT / ".bench_run" / "steadiness"
    out.mkdir(parents=True, exist_ok=True)
    (out / time.strftime("%Y%m%dT%H%M%S.json")).write_text(json.dumps(doc, indent=1))
    print(json.dumps(doc, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
