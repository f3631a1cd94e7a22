"""The two workloads. Each drives the engine through its public API
only (Index, QuerySession) as one closed-loop client, then checks
sampled results against the reference paths the rank-identity tests
use. The merge runs in the traced run's layer probes (layers.py).

Every workload reports the same end-to-end roles (README.md maps each
role to the operation it times):

    setup_s, op1_p50_s, op2_p50_s, op3_p50_s
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mario_spark.docs import build_doc_table
from mario_spark.fixtures import make_vocab, pages_df, query_terms_df, zipf_probs
from mario_spark.index import Index
from mario_spark.qs import search_query_string
from mario_spark.query import search_exhaustive

from spans import Tracer

VOCAB = make_vocab()  # index == zipf rank
K = 10
TAIL_RANK = 2000      # tail class: every term has vocab rank >= this
HEAD_TOP = 8          # head class: 3 distinct terms from the top 8
BATCH = 50            # queries per serve batch
CHECK_PER_CLASS = 3   # sampled single calls checked per class / shape
MIN_SAMPLES = 4       # the window runs on until every class has these
# untimed warm-up before the window: in a fresh process the first
# calls run up to 1.8x slower. A single tail query takes ~200 calls to
# settle (0.19 -> 0.10 s), so serve warms it on its own first, then
# runs rounds of the window's cycle
SERVE_WARMUP_TAIL = 80
SERVE_WARMUP_ROUNDS = 2
ADHOC_WARMUP_ROUNDS = 2

# serve: head queries must exceed the fast path's candidate limit and
# tail queries must fit under it. The default driver_limit (200,000)
# would need a ~100k-doc corpus, whose build does not fit one run, so
# the limit is scaled with the corpus at the default's ratio to that
# corpus (2 candidate postings per doc).
SERVE_DOCS = 2000
DRIVER_LIMIT_PER_DOC = 2

ADHOC_DOCS = 600
ADHOC_SEG_DOCS = 300    # -> 2 segments, and the append adds a 3rd
ADHOC_APPEND_DOCS = 120


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    nproc: int
    t_start: float
    log: object  # progress lines to stderr


@dataclass
class Result:
    setup_s: float = 0.0
    samples: dict = field(default_factory=dict)  # role -> [seconds]
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    props: dict = field(default_factory=dict)
    index: Index | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def _rng(seed: int, stream: int) -> random.Random:
    return random.Random(seed * 1_000_003 + stream)


def tail_text(rng: random.Random) -> str:
    return " ".join(rng.sample(VOCAB[TAIL_RANK:], 2))


def head_text(rng: random.Random) -> str:
    return " ".join(rng.sample(VOCAB[:HEAD_TOP], 3))


def mid_term(rng: random.Random) -> str:
    return rng.choice(VOCAB[HEAD_TOP:TAIL_RANK])


def batch_pages(spark, seed: int, tag: int, n: int, marker: str | None = None):
    """A seeded append batch built driver-side, like a bulk request:
    zipf text over the corpus vocabulary, urls unique per (seed, tag).
    `marker` is appended to the first doc's text."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=[0, 0, 7, tag]))
    lens = np.clip(rng.lognormal(5.0, 0.6, size=n).astype(int), 8, 2048)
    toks = rng.choice(len(VOCAB), size=int(lens.sum()), p=zipf_probs())
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(VOCAB[i] for i in part) for part in np.split(toks, cuts)]
    if marker:
        texts[0] += " " + marker
    pdf = pd.DataFrame({
        "url": [f"https://bench.example/s{seed}/b{tag}/{j:05d}" for j in range(n)],
        "lang": "en",
        "text": texts,
    })
    return spark.createDataFrame(pdf, "url string, lang string, text string"), pdf


def _due(deadline: float, samples: dict, res: Result) -> bool:
    if res.failed >= 3:
        return False
    return time.perf_counter() < deadline or min(map(len, samples.values())) < MIN_SAMPLES


# ------------------------------------------------------------ checking
def _by_query(rows) -> dict[int, list[tuple[int, int, float]]]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: sorted(v) for q, v in out.items()}


def _reference(pdf: pd.DataFrame, deleted: set[int]) -> dict[int, list]:
    """Reference top-K with tombstoned docs removed and ranks
    recomputed (stale collection stats, as the engine keeps them)."""
    pdf = pdf.sort_values(["query_id", "rank"])
    pdf = pdf[~pdf["doc_id"].isin(deleted)].copy()
    pdf["rank"] = pdf.groupby("query_id").cumcount() + 1
    return _by_query(pdf[pdf["rank"] <= K].to_dict("records"))


def _compare(res: Result, what: str, got: dict, want: dict) -> None:
    for qid in sorted(set(got) | set(want)):
        g, w = got.get(qid, []), want.get(qid, [])
        same = len(g) == len(w) and all(
            gr == wr and gd == wd and abs(gs - ws) <= 1e-9
            for (gr, gd, gs), (wr, wd, ws) in zip(g, w)
        )
        if not same:
            res.fail(f"{what} query {qid}: got {g[:3]}... want {w[:3]}...")


def _ref_docs(idx: Index, texts):
    """(doc_id, url, lang, text) with ids from the index's doc store,
    text from the generator's own output (as tests/test_append.py)."""
    return idx.docs().select("doc_id", "url").join(texts, "url")


# ---------------------------------------------------------------- serve
def serve(ctx: Ctx) -> Result:
    sp, tr, res = ctx.spark, ctx.tracer, Result()
    limit = DRIVER_LIMIT_PER_DOC * SERVE_DOCS
    pages = pages_df(sp, SERVE_DOCS, seed=ctx.seed, partitions=ctx.nproc)
    idx = Index(sp, str(ctx.work / "idx"), "serve")
    with tr.timed("index.ingest"):
        idx.ingest(pages, segment_docs=SERVE_DOCS)
    st = idx.stats()
    if (st["n_docs"], st["segments"]) != (SERVE_DOCS, 1):
        res.fail(f"after the build: {st}")
    with tr.timed("index.open_session"):
        sess = idx.open_session().warm()
    rng = _rng(ctx.seed, 1)

    def search(queries):
        return sess.search(queries, k=K, driver_limit=limit).collect()

    def make(cls: str) -> list[tuple[int, str]]:
        if cls == "batch":
            return [(q, tail_text(rng)) for q in range(BATCH)]
        return [(0, tail_text(rng) if cls == "tail" else head_text(rng))]

    plan = ["tail", "head", "batch"]
    with tr.timed("warmup"):
        for _ in range(SERVE_WARMUP_TAIL):
            search(make("tail"))
        for _ in range(SERVE_WARMUP_ROUNDS):
            for cls in plan:
                search(make(cls))
    res.setup_s = time.perf_counter() - ctx.t_start
    ctx.log("serve: set up")

    samples = {"tail": [], "head": [], "batch": []}
    checked: list[tuple[int, str, str, list]] = []  # (qid, class, text, rows)
    qid, i = 1000, 0
    deadline = time.perf_counter() + ctx.seconds
    while _due(deadline, samples, res):
        cls = plan[i % len(plan)]
        i += 1
        queries = make(cls)
        res.attempted += 1
        try:
            with tr.timed(f"wand.search.{cls}", queries=len(queries)) as t:
                rows = search(queries)
                t["rows"] = len(rows)
        except Exception as e:  # noqa: BLE001 - a failed call is a result
            res.fail(f"{cls}: {e!r}")
            continue
        samples[cls].append(t["s"])
        n_checked = sum(1 for c in checked if c[1] == cls)
        if (cls == "batch" and n_checked == 0) or (
            cls != "batch" and n_checked < CHECK_PER_CLASS
        ):
            got = _by_query(rows)
            for q, text in queries:
                checked.append((qid, cls, text, got.get(q, [])))
                qid += 1

    # --- checks, outside the timed window
    ctx.log("serve: window done")
    want = _reference(
        search_exhaustive(
            build_doc_table(_ref_docs(idx, pages.select("url", "lang", "text"))),
            query_terms_df(sp, [(q, text) for q, _, text, _ in checked]),
            k=K,
        ).toPandas(),
        set(),
    )
    got = {q: rows for q, _, _, rows in checked}
    _compare(res, "serve vs search_exhaustive", got, want)

    res.samples = {"op1": samples["tail"], "op2": samples["head"], "op3": samples["batch"]}
    res.props = {"driver_limit": limit}
    sess.close()
    res.index = idx
    return res


# ---------------------------------------------------------------- adhoc
def adhoc(ctx: Ctx) -> Result:
    sp, tr, res = ctx.spark, ctx.tracer, Result()
    rng = _rng(ctx.seed, 2)
    # write path: a fresh build, an append, one delete generation
    pages = pages_df(sp, ADHOC_DOCS, seed=ctx.seed, partitions=ctx.nproc)
    idx = Index(sp, str(ctx.work / "idx"), "adhoc")
    n_expect = ADHOC_DOCS

    def write(name: str, call) -> None:
        res.attempted += 1
        with tr.timed(name):
            out = call()
        if out is None:
            res.fail(f"{name} did nothing")
        if idx.stats()["n_docs"] != n_expect:
            res.fail(f"{name}: n_docs {idx.stats()['n_docs']} != {n_expect}")

    write("index.ingest", lambda: idx.ingest(
        pages, positions=True, segment_docs=ADHOC_SEG_DOCS))
    marker = f"zmark{ctx.seed}"
    bdf, batch = batch_pages(sp, ctx.seed, 0, ADHOC_APPEND_DOCS, marker)
    n_expect += ADHOC_APPEND_DOCS
    write("index.append", lambda: idx.append(bdf))
    # a mid-rank term that exists, never one of the marker doc's
    marker_words = set(batch["text"].iloc[0].split())
    del_term = rng.choice([t for t in VOCAB[800:1200] if t not in marker_words])
    with tr.timed("index.delete_by_query"):
        if idx.delete_by_query([del_term])["deleted"] == 0:
            res.fail(f"delete_by_query({del_term!r}) tombstoned nothing")

    # phrases are real bigrams of the appended docs, so every phrase matches
    words = [t for text in batch["text"] for t in text.split()]

    def phrase() -> str:
        p = rng.randrange(len(words) - 1)
        return f"{words[p]} {words[p + 1]}"

    shapes = {
        "term": lambda: mid_term(rng) + " " + mid_term(rng),
        "phrase": phrase,
        "qs": lambda: f'{mid_term(rng)} "{phrase()}" -{mid_term(rng)}',
    }
    calls = {
        "term": ("index.search", lambda q: idx.search(query_terms_df(sp, [(0, q)]), k=K)),
        "phrase": ("phrase.search_phrase", lambda q: idx.search_phrase([(0, q)], k=K)),
        "qs": ("qs.search_query_string", lambda q: idx.search_query_string([(0, q)], k=K)),
    }
    checked: dict[str, list] = {s: [] for s in calls}
    with tr.timed("warmup"):
        # the term warm-up asks for the appended marker doc; it is
        # checked with the sampled term queries (exactly one hit)
        rows = calls["term"][1](marker).collect()
        if len(rows) != 1:
            res.fail(f"marker query returned {len(rows)} docs")
        checked["term"].append((marker, _by_query(rows).get(0, [])))
        for _ in range(ADHOC_WARMUP_ROUNDS):
            for shape, (_, call) in calls.items():
                call(shapes[shape]()).collect()
    res.setup_s = time.perf_counter() - ctx.t_start
    ctx.log("adhoc: set up")

    plan = ["term", "phrase", "qs"]
    samples = {s: [] for s in plan}
    i = 0
    deadline = time.perf_counter() + ctx.seconds
    while _due(deadline, samples, res):
        shape = plan[i % len(plan)]
        i += 1
        text = shapes[shape]()
        span, call = calls[shape]
        res.attempted += 1
        try:
            with tr.timed(span) as t:
                rows = call(text).collect()
                t["rows"] = len(rows)
        except Exception as e:  # noqa: BLE001
            res.fail(f"{shape}: {e!r}")
            continue
        samples[shape].append(t["s"])
        if len(checked[shape]) < CHECK_PER_CLASS:
            checked[shape].append((text, _by_query(rows).get(0, [])))
    if tr.enabled:
        for _ in range(3):
            terms = [mid_term(rng) for _ in range(3)]
            with tr.timed("index.dictionary_lookup"):
                idx.dictionary().filter(F.col("term").isin(terms)).collect()
    ctx.log("adhoc: window done")

    # --- checks: references over the raw text of every doc, tombstoned
    # docs included for the (stale) stats, then masked
    deleted = {int(r["doc_id"]) for r in idx.deleted_ids().collect()}
    k_ref = K + len(deleted)
    texts = pages.select("url", "lang", "text").unionByName(
        sp.createDataFrame(batch, "url string, lang string, text string")
    )
    ref = _ref_docs(idx, texts).persist()
    term_q = [(q, t) for q, (t, _) in enumerate(checked["term"])]
    # a phrase query is the query_string of one quoted clause
    qs_q = [(q, f'"{t}"') for q, (t, _) in enumerate(checked["phrase"])]
    qs_q += [(100 + q, t) for q, (t, _) in enumerate(checked["qs"])]
    with ThreadPoolExecutor(2) as pool:  # two independent reference jobs
        want_term = pool.submit(lambda: search_exhaustive(
            build_doc_table(ref), query_terms_df(sp, term_q), k=k_ref).toPandas())
        want_qs = pool.submit(lambda: search_query_string(
            ref.select("doc_id", "text"), qs_q, k=k_ref).toPandas())
    got = {q: g for q, (_, g) in enumerate(checked["term"])}
    _compare(res, "term vs search_exhaustive", got, _reference(want_term.result(), deleted))
    got = {q: g for q, (_, g) in enumerate(checked["phrase"])}
    got.update({100 + q: g for q, (_, g) in enumerate(checked["qs"])})
    _compare(res, "phrase/qs vs qs.search_query_string", got, _reference(want_qs.result(), deleted))
    ref.unpersist()

    res.samples = {"op1": samples["term"], "op2": samples["phrase"], "op3": samples["qs"]}
    res.props = {"docs_per_append": ADHOC_APPEND_DOCS}
    res.index = idx
    return res


WORKLOADS = {"serve": serve, "adhoc": adhoc}
