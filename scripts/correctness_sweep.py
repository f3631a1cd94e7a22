"""Driver-style correctness sweep: every suite query vs its DuckDB oracle.

Replays what the per-round driver gate does, locally: run each
``__spark_entry__.queries()`` entry at sf0.01, run the matching
``oracle_sql()`` statement in DuckDB over the same parquet tables, and
compare (row count, column names, canonicalized values). Queries with no
oracle get a rows-only check, like the driver's weaker gate.

Usage:
    python scripts/correctness_sweep.py                # all queries
    python scripts/correctness_sweep.py name1 name2    # a subset
    SWEEP_SF_DIR=/root/testdata/sf0.01 python scripts/correctness_sweep.py
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    """Canonical comparable form (mirrors the driver: values compared
    after column-name sort; floats at tolerance below the documented
    4-dp rounding both sides already apply)."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        # DuckDB types bare SQL decimal literals (and their sums) as
        # DECIMAL; compare numerically like the driver does, and keep
        # the oracles ::DOUBLE-cast anyway so any comparator agrees.
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, int):
        return float(v) if -2**52 < v < 2**52 else v
    return v


def _frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(_canon(r[i])) for i in order) for r in rows
    )


def main() -> None:
    sf_dir = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as e
    from mario_spark.session import get_spark

    spark = get_spark(
        "sweep", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    names = [n for n in qs if not only or n in only]
    failed, rows_only = [], []
    t_start = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"spark error: {ex}"))
            print(f"[{i+1}/{len(names)}] {name}: SPARK ERROR {ex}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"[{i+1}/{len(names)}] {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failed.append((name, f"oracle error: {ex}"))
            print(f"[{i+1}/{len(names)}] {name}: ORACLE ERROR {ex}")
            continue
        msg = None
        if len(srows) != len(orows):
            msg = f"rows {len(srows)} vs {len(orows)}"
        elif sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            msg = f"cols {sorted(scols)} vs {sorted(ocols)}"
        elif _frame_key(scols, srows) != _frame_key(ocols, orows):
            sk, ok = _frame_key(scols, srows), _frame_key(ocols, orows)
            diff = next(
                (a, b) for a, b in zip(sk, ok) if a != b
            ) if len(sk) == len(ok) else ("", "")
            msg = f"value mismatch, first diff: {diff[0][:200]} vs {diff[1][:200]}"
        if msg:
            failed.append((name, msg))
            print(f"[{i+1}/{len(names)}] {name}: FAIL {msg}")
        else:
            print(f"[{i+1}/{len(names)}] {name}: ok ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")

    print(f"\n{len(names) - len(failed)}/{len(names)} green "
          f"({len(rows_only)} rows-only) in {time.time()-t_start:.0f}s")
    for name, msg in failed:
        print(f"  FAIL {name}: {msg}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
