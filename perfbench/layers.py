"""Per-layer metrics of the traced run.

Two sources, both outside the program:
- Spark task metrics of the jobs each timed public call issued
  (spans.span_costs), reduced to the median per call of each span
  name;
- direct calls into single layers on a fixed seeded input
  (`probes`): the tokenizers, the doc-id codec, the doc-table and
  postings builds, and a tiered merge of a two-segment index.

Every traced run reports every metric of per_layer_spec(). A layer
the workload does not exercise reports 0 (no calls, no work).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from pathlib import Path

import numpy as np

from mario_spark.analyze import pd_tokenize, py_tokenize
from mario_spark.codec import decode_doc_ids, encode_doc_ids
from mario_spark.docs import build_doc_table, corpus_stats
from mario_spark.fixtures import pages_df, pages_pdf, query_terms_df
from mario_spark.index import Index
from mario_spark.merge import maybe_merge
from mario_spark.postings import build_postings

from workloads import HEAD_TOP, K, TAIL_RANK, VOCAB, Ctx, Result, head_text, tail_text

# span name -> fields reported per call (batch spans: per query)
SPAN_FIELDS = {
    "docs.build_doc_table": ("wall_s", "exec_run_s", "gc_s"),
    "postings.build_postings": (
        "wall_s", "jobs", "shuffle_write_bytes", "spill_bytes", "exec_run_s",
    ),
    "index.ingest": (
        "wall_s", "jobs", "stages", "tasks", "driver_s", "exec_run_s", "gc_s",
        "shuffle_write_bytes", "spill_bytes", "output_bytes",
    ),
    "index.append": ("wall_s", "jobs", "driver_s"),
    "index.open_session": ("wall_s", "jobs"),
    "index.search": (
        "jobs", "stages", "tasks", "driver_s", "shuffle_read_bytes",
        "result_bytes", "max_task_over_median",
    ),
    "index.dictionary_lookup": ("wall_s",),
    "merge.maybe_merge": (
        "wall_s", "jobs", "shuffle_write_bytes", "spill_bytes", "output_bytes",
    ),
    "wand.search.tail": ("jobs", "tasks", "driver_s", "exec_run_s"),
    "wand.search.head": (
        "jobs", "stages", "tasks", "driver_s", "exec_run_s",
        "max_task_over_median", "input_records_per_result",
    ),
    "wand.search.batch": ("jobs", "driver_s", "exec_run_s"),
    "phrase.search_phrase": (
        "jobs", "stages", "driver_s", "exec_run_s", "shuffle_read_bytes",
    ),
    "qs.search_query_string": ("jobs", "stages", "driver_s", "exec_run_s"),
}

_FIELD_UNIT = {
    "wall_s": "s", "driver_s": "s", "exec_run_s": "s", "gc_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "max_task_over_median": "ratio", "input_records_per_result": "ratio",
}

# name -> (unit, better) for metrics that are not per-span fields
SCALARS = {
    "analyze.pd_tokenize.docs_per_s": ("1/s", "higher"),
    "analyze.py_tokenize.us_per_query": ("us", "lower"),
    "codec.encode_doc_ids.mb_per_s": ("MB/s", "higher"),
    "codec.decode_doc_ids.mb_per_s": ("MB/s", "higher"),
    "postings.bytes_per_posting": ("B", "lower"),
    "index.bytes_per_doc": ("B", "lower"),
    "index.persisted_rdds_delta": ("count", "lower"),
    "merge.write_amplification": ("ratio", "lower"),
    "wand.route.head_distributed_share": ("ratio", "higher"),
    "wand.route.tail_fast_share": ("ratio", "higher"),
    "proc.peak_rss_mb": ("MB", "lower"),
    "prop.n_docs": ("count", "higher"),
    "prop.driver_limit": ("count", "higher"),
    "prop.head_candidates_over_limit": ("ratio", "higher"),
    "prop.tail_candidates_over_limit": ("ratio", "lower"),
    "prop.segments": ("count", "lower"),
    "prop.tombstones": ("count", "lower"),
    "prop.docs_per_append": ("count", "higher"),
}

# a warm query on the coordinator fast path runs at most this many
# Spark jobs (one collect of the candidate blocks); the distributed
# route runs more
FAST_PATH_MAX_JOBS = 1

PROBE_DOCS = 500

# spans around calls into the program's public API (not the probes)
PUBLIC_LAYERS = ("index", "merge", "wand", "phrase", "qs")


def _unit(f: str) -> str:
    return _FIELD_UNIT.get(f, "B")


def per_layer_spec() -> list[dict]:
    """The per_layer list of BENCHMARK.json, in report order."""
    out = []
    for span, fields in SPAN_FIELDS.items():
        for f in fields:
            out.append({"name": f"{span}.{f}", "unit": _unit(f), "better": "lower"})
    for name, (unit, better) in SCALARS.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out


def _median_time(fn, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def probes(ctx: Ctx) -> dict[str, float]:
    """Direct single-layer calls on a fixed seeded input. The Spark
    builds run under spans, so their costs come from the event log."""
    out: dict[str, float] = {}
    texts = pages_pdf(PROBE_DOCS, seed=ctx.seed)["text"]
    out["analyze.pd_tokenize.docs_per_s"] = PROBE_DOCS / _median_time(
        lambda: pd_tokenize(texts)
    )
    rng = random.Random(ctx.seed)
    queries = [tail_text(rng) for _ in range(500)] + [head_text(rng) for _ in range(500)]
    out["analyze.py_tokenize.us_per_query"] = 1e6 / len(queries) * _median_time(
        lambda: [py_tokenize(q) for q in queries]
    )
    ids = np.unique(np.random.default_rng(ctx.seed).integers(0, 1 << 24, 200_000))
    buf = encode_doc_ids(ids)
    mb = len(buf) / 1e6
    out["codec.encode_doc_ids.mb_per_s"] = mb / _median_time(lambda: encode_doc_ids(ids))
    out["codec.decode_doc_ids.mb_per_s"] = mb / _median_time(lambda: decode_doc_ids(buf))
    if not np.array_equal(decode_doc_ids(buf), ids):
        raise AssertionError("codec round trip changed the doc ids")

    tr, sp = ctx.tracer, ctx.spark
    pages = pages_df(sp, PROBE_DOCS, seed=ctx.seed, partitions=ctx.nproc)
    with tr.timed("docs.build_doc_table"):
        d = build_doc_table(pages).persist()
        d.count()
    n_docs = corpus_stats(d).collect()[0]["n_docs"]
    with tr.timed("postings.build_postings"):
        post, _, _ = build_postings(d, n_docs)
        post.count()
    d.unpersist()

    # the merge: a two-segment build of the same docs, then one tiered
    # round (one size tier for any segment size, so both merge); a
    # query must rank the same before and after
    idx = Index(sp, str(ctx.work / "merge_probe"), "merge_probe")
    with tr.timed("merge.build_segments"):
        idx.ingest(pages, segment_docs=PROBE_DOCS // 2)
    q = query_terms_df(sp, [(0, head_text(rng))])

    def top() -> list:
        rows = idx.search(q, k=K).collect()
        return sorted((r["rank"], r["doc_id"], r["score"]) for r in rows)

    before = top()
    with tr.timed("merge.maybe_merge"):
        merged = maybe_merge(idx, max_per_tier=2, tier_factor=1e12)
    st = idx.stats()
    if merged is None or (st["n_docs"], st["segments"]) != (PROBE_DOCS, 1):
        raise AssertionError(f"maybe_merge left {st}")
    after = top()
    if len(after) != len(before) or any(
        a[:2] != b[:2] or abs(a[2] - b[2]) > 1e-9 for a, b in zip(after, before)
    ):
        raise AssertionError(f"the merge changed a query's top-k: {before} -> {after}")
    return out


def dir_bytes(path: str, sub: str | None = None) -> int:
    """Bytes of regular files under path (only inside `sub` dirs if set)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        if sub and sub not in Path(dirpath).parts:
            continue
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def index_props(res: Result) -> dict[str, float]:
    """Size and route properties of the workload's main index."""
    from pyspark.sql import functions as F

    idx = res.index
    st = idx.stats()
    dic = idx.dictionary()
    n_postings = dic.agg(F.sum("df")).collect()[0][0] or 0
    out = {
        "postings.bytes_per_posting": dir_bytes(idx.paths.base, "postings") / max(n_postings, 1),
        "index.bytes_per_doc": dir_bytes(idx.paths.base) / max(st["n_docs"], 1),
    }
    out["prop.n_docs"] = st["n_docs"]
    out["prop.segments"] = st["segments"]
    out["prop.tombstones"] = st["n_deleted"]
    for key in ("driver_limit", "docs_per_append"):
        out[f"prop.{key}"] = res.props.get(key, 0)
    limit = res.props.get("driver_limit", 0)
    if limit:
        # candidate postings of a head query at the least, and of a
        # tail query at most
        df = dict(dic.filter(F.col("term").isin(VOCAB[:HEAD_TOP])).collect())
        top = sorted(df.values())
        out["prop.head_candidates_over_limit"] = sum(top[:3]) / limit
        tail = [r["df"] for r in dic.filter(F.col("term").isin(VOCAB[TAIL_RANK:]))
                .orderBy(F.desc("df")).limit(2).collect()]
        out["prop.tail_candidates_over_limit"] = sum(tail) / limit
    return out


def metrics(spans: list[dict], costs: dict[int, dict], extra: dict) -> dict:
    """Per-layer metric dict {name: {"value", "unit"}} for every name
    of per_layer_spec()."""
    calls: dict[str, list[tuple[dict, dict]]] = {}
    for s in spans:
        calls.setdefault(s["name"], []).append((s, costs[s["sid"]]))
    values: dict[str, float] = {}
    for name, fields in SPAN_FIELDS.items():
        for f in fields:
            per_call = []
            for s, c in calls.get(name, []):
                if f == "input_records_per_result":
                    v = c["input_records"] / max(s["attrs"].get("rows", 0), 1)
                else:
                    v = c[f]
                per_call.append(v / s["attrs"].get("queries", 1))
            values[f"{name}.{f}"] = statistics.median(per_call) if per_call else 0.0

    public = [s for s in spans if s["name"].split(".")[0] in PUBLIC_LAYERS]
    values["index.persisted_rdds_delta"] = (
        sum(s["attrs"]["rdds_after"] - s["attrs"]["rdds_before"] for s in public)
        / max(len(public), 1)
    )
    out_bytes = {
        n: sum(c["output_bytes"] for _, c in calls.get(n, []))
        for n in ("merge.build_segments", "merge.maybe_merge")
    }
    new_data = out_bytes["merge.build_segments"]
    values["merge.write_amplification"] = (
        (new_data + out_bytes["merge.maybe_merge"]) / new_data if new_data else 0.0
    )
    for cls, key, fast in (("head", "head_distributed_share", False),
                           ("tail", "tail_fast_share", True)):
        jobs = [c["jobs"] for _, c in calls.get(f"wand.search.{cls}", [])]
        hits = [j <= FAST_PATH_MAX_JOBS for j in jobs]
        values[f"wand.route.{key}"] = (
            sum(h == fast for h in hits) / len(hits) if hits else 0.0
        )
    values.update(extra)
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in per_layer_spec()
    }
