"""Identity digest of every suite operator: one line per SUITE entry,

    name rows_sha256 plan_sha256

computed over the sf0.001 tables (the `sf` directories are listed in
TESTDATA.md). Two trees that print the same lines return the same rows
and execute the same physical plans, so a refactor that claims "no
behaviour change" can prove it by diffing this output before and after.

- rows: each row rendered canonically (floats with repr, maps with
  sorted keys, nested rows as tuples), the rendered rows sorted, then
  hashed, so row order never matters but every bit of a float does.
- plan: the executed physical plan after the rows were collected (the
  final adaptive plan), with expression ids (`#123`), `plan_id=`
  numbers, query-stage and codegen-stage numbers, object addresses
  and temp paths normalised.

A query that raises prints `name ERROR <exception type>`.

A few plans differ between runs of the same tree: adaptive execution
picks a broadcast join's build side from whichever query stage finishes
first. Rerun a name whose plan digest alone differs before reading it
as a change.

Usage:
    python scripts/suite_digest.py SF_DIR [name ...] > digest.txt
    make digest SF_DIR=<sf0.001 dir>

Runs on local[4] with 8 shuffle partitions; compare digests produced
with the same settings only (the plan records partition counts).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_PLAN_NORMALISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"0x[0-9a-f]+"), "0x"),
    (re.compile(r"(file:)?/tmp/[^\s,\])]*"), "<tmp>"),
    # adaptive query-stage and codegen-stage numbers follow the order
    # in which concurrently submitted stages finish, not the plan
    (re.compile(r"(QueryStage) \d+"), r"\1"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen"),
]


def _render(v) -> str:
    """Canonical text of one value: floats by repr (exact), maps with
    sorted keys, rows and arrays element-wise."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        items = sorted((_render(k), _render(x)) for k, x in v.items())
        return "{" + ", ".join(f"{k}: {x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return "[" + ", ".join(_render(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime.date, decimal.Decimal)):
        return str(v)
    return repr(v)


def rows_digest(rows) -> str:
    lines = sorted(_render(r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def plan_digest(plan: str) -> str:
    for pat, rep in _PLAN_NORMALISE:
        plan = pat.sub(rep, plan)
    return hashlib.sha256(plan.encode("utf-8")).hexdigest()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: suite_digest.py SF_DIR [name ...]")
    sf_dir, only = sys.argv[1], set(sys.argv[2:])

    from mario_spark.session import get_spark
    from mario_spark.suite import SUITE

    spark = get_spark("suite_digest", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in SUITE.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            rows = df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            print(f"{name} ERROR {type(ex).__name__}", flush=True)
            continue
        print(f"{name} {rows_digest(rows)} {plan_digest(plan)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
