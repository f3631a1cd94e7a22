#!/usr/bin/env python3
"""Alternating benchmark pairs: a reference commit against the working tree.

    python3 scripts/bench_pairs.py --ref <commit> --workload adhoc --pairs 10
    make bench-pairs REF=<commit> WORKLOAD=adhoc PAIRS=10

Checks REF out in a detached git worktree under .bench_build/ and runs
`perfbench/run.py` once per side per pair, each side from its own
checkout, with the run length from BENCHMARK.json. Pair i uses seed
SEED + i on both sides, and which side runs first alternates from pair
to pair. For every end-to-end metric it prints each side's median and
quartiles, the pairs the change won (ties count for neither side) and
whether a gain may be claimed: the change wins at least nine tenths of
the pairs, and the medians differ by more than the reference's
quartile distance. Runs that were not correct, and failed operations,
are reported too. The worktree is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def _run(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run from `checkout`: its last stdout line."""
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
        ],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 2 or not lines:
        raise RuntimeError(
            f"perfbench broke in {checkout} (exit {proc.returncode}):\n"
            + proc.stderr[-2000:]
        )
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[tuple[dict, dict]], e2e: list[dict]) -> list[str]:
    """Report lines for [(reference run, change run)] pairs."""
    out = []
    for side, i in (("ref", 0), ("change", 1)):
        bad = sum(not r[i]["correct"] for r in runs)
        failed = sum(r[i]["failed"] for r in runs)
        tried = sum(r[i]["attempted"] for r in runs)
        out.append(
            f"{side}: {bad} incorrect runs, {failed}/{tried} operations failed"
        )
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        ref = [r[0]["metrics"][name]["value"] for r in runs]
        new = [r[1]["metrics"][name]["value"] for r in runs]
        wins = sum((n < r) if lower else (n > r) for r, n in zip(ref, new))
        losses = sum((n > r) if lower else (n < r) for r, n in zip(ref, new))
        rq1, rmed, rq3 = _quartiles(ref)
        nq1, nmed, nq3 = _quartiles(new)
        gap = (rmed - nmed) if lower else (nmed - rmed)
        claim = wins >= 0.9 * len(runs) and gap > rq3 - rq1
        out.append(
            f"{name}: ref median {rmed:.4g} (q1 {rq1:.4g}, q3 {rq3:.4g}); "
            f"change median {nmed:.4g} (q1 {nq1:.4g}, q3 {nq3:.4g}); "
            f"change won {wins}/{len(runs)} pairs, lost {losses}; "
            f"median gain {gap:+.4g} vs ref IQR {rq3 - rq1:.4g}: "
            + ("gain may be claimed" if claim else "no gain claimed")
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", required=True, help="reference commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    BUILD.mkdir(exist_ok=True)
    ref_dir = BUILD / "ref"
    if ref_dir.exists():
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(ref_dir)], cwd=ROOT
        )
        shutil.rmtree(ref_dir, ignore_errors=True)
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(ref_dir), args.ref],
        cwd=ROOT, check=True, capture_output=True,
    )
    runs: list[tuple[dict, dict]] = []
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("ref", ref_dir), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, checkout in order:
                got[side] = _run(checkout, args.workload, seed, seconds)
                vals = {
                    k: round(v["value"], 4)
                    for k, v in got[side]["metrics"].items()
                }
                print(f"pair {i} seed {seed} {side}: {vals}", flush=True)
            runs.append((got["ref"], got["change"]))
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(ref_dir)], cwd=ROOT
        )
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT)
    print(f"{args.workload}: {len(runs)} pairs, ref {args.ref} vs working tree")
    for line in summarize(runs, bench["end_to_end"]):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
