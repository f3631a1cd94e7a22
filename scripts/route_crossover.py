#!/usr/bin/env python3
"""Where the coordinator route stops paying: driver vs distributed
scatter_gather at growing candidate-posting counts.

    python3 scripts/route_crossover.py --docs 24000 --reps 5 \\
        --sizes 20000,50000,100000,200000

Builds a positions=True index of `--docs` zipf pages in 3 segments with
one tombstone generation (the adhoc workload's shape, scaled up) under
a temporary directory, opens a warm session on it, then times each call
shape on both routes, interleaved, `--reps` times after one untimed
round: the distributed route with wand.DRIVER_LIMIT = 0, the
coordinator route with no limit. A cold call pins a snapshot of the
index and a warm call reads through the session's pin, so on both the
coordinator route reads the pruned postings from the open segment part
files with pyarrow (no Spark job); the warm distributed route scans the
session's cached, dbucket-partitioned frame (no shuffle), the cold one
the part files. A shape's query at size C is m >= 3 vocabulary terms
whose summed df is near C (a term query, the same terms as one phrase,
and `a "b c ..."` as a query_string). Prints one JSON line per (size,
shape) with both medians and whether the two routes returned the same
rows. wand.DRIVER_LIMIT and
wand.POSITIONAL_WEIGHT are sized from this table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
# the Python workers import the package from the same checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from pyspark.sql import functions as F  # noqa: E402

from mario_spark import wand  # noqa: E402
from mario_spark.fixtures import pages_df, query_terms_df  # noqa: E402
from mario_spark.index import Index  # noqa: E402
from mario_spark.session import get_spark  # noqa: E402

SHAPES = [
    "cold_term", "cold_phrase", "cold_qs",
    "warm_term", "warm_phrase", "warm_qs",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=24000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sizes", default="20000,50000,100000,200000")
    ap.add_argument("--shapes", default=",".join(SHAPES))
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    spark = get_spark(
        "route_crossover", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        idx = Index(spark, str(Path(work) / "idx"), "crossover")
        idx.ingest(
            pages_df(spark, args.docs, seed=5, partitions=args.cores),
            positions=True, segment_docs=math.ceil(args.docs / 3),
        )
        ranked = [
            (r["term"], int(r["df"]))
            for r in idx.dictionary().orderBy(F.desc("df"), "term")
            .limit(3000).collect()
        ]
        idx.delete_by_query([ranked[1000][0]])
        sess = idx.open_session().warm()
        try:
            for size in (int(c) for c in args.sizes.split(",")):
                _probe(spark, idx, sess, ranked, size, args)
        finally:
            sess.close()
    spark.stop()
    return 0


def _probe(spark, idx, sess, ranked, size: int, args) -> None:
    # m terms of df near size / m, m >= 3 so the query_string has a
    # term clause and a phrase
    m = max(3, math.ceil(size / (0.9 * ranked[0][1])))
    near = sorted(ranked, key=lambda t: abs(t[1] - size / m))[:m]
    cand = sum(df for _, df in near)
    if abs(cand - size) > 0.3 * size:
        print(json.dumps({"size": size, "skipped": cand}), flush=True)
        return
    terms = [t for t, _ in near]
    text = " ".join(terms)
    qs = f'{terms[0]} "{" ".join(terms[1:])}"'
    calls = {
        "cold_term": lambda: idx.search(
            query_terms_df(spark, [(0, text)]), k=10
        ),
        "cold_phrase": lambda: idx.search_phrase([(0, text)], k=10),
        "cold_qs": lambda: idx.search_query_string([(0, qs)], k=10),
        "warm_term": lambda: sess.search([(0, text)], k=10),
        "warm_phrase": lambda: sess.search_phrase([(0, text)], k=10),
        "warm_qs": lambda: sess.search_query_string([(0, qs)], k=10),
    }
    limits = {"distributed": 0, "driver": 10**15}
    for shape in args.shapes.split(","):
        times = {route: [] for route in limits}
        rows = {}
        for r in range(args.reps + 1):
            # alternate which route runs first; round 0 is untimed
            for route in sorted(limits, reverse=bool(r % 2)):
                wand.DRIVER_LIMIT = limits[route]
                t = time.perf_counter()
                got = calls[shape]().collect()
                if r:
                    times[route].append(time.perf_counter() - t)
                rows[route] = sorted(tuple(x) for x in got)
        print(json.dumps({
            "candidates": cand,
            "shape": shape,
            **{
                f"{route}_p50_s": round(statistics.median(ts), 3)
                for route, ts in times.items()
            },
            "same_rows": rows["distributed"] == rows["driver"],
        }), flush=True)


if __name__ == "__main__":
    raise SystemExit(main())
