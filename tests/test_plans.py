"""Physical-plan assertions: the optimizations we rely on at 100TB must
be visible in .explain output, not just hoped for (SURVEY §4.2)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _shape(plan: str) -> tuple[int, int]:
    """(per-dbucket kernels, rank windows) in a formatted plan."""
    return (
        len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas\b", plan, re.M)),
        len(re.findall(r"^\(\d+\) Window\b", plan, re.M)),
    )


def _collected_plans(monkeypatch) -> list[str]:
    """Plans of the frames collected to pandas from now on, in order:
    scatter_gather collects through DataFrame.toPandas on the
    distributed route (the kernel rows) and on the coordinator route of
    a snapshot without part files (the pruned postings), so its route
    shows in the last plan here. A pinned snapshot's coordinator route
    reads its part files instead (_postings_reads)."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    real = DataFrame.toPandas

    def spy(self):
        plans.append(_plan(self))
        return real(self)

    monkeypatch.setattr(DataFrame, "toPandas", spy)
    return plans


def _postings_reads(monkeypatch) -> list[list[str]]:
    """The scan terms of every pyarrow postings read scatter_gather's
    coordinator route makes from now on (localread.read_postings)."""
    from mario_spark import wand

    reads: list[list[str]] = []
    real = wand.read_postings

    def spy(files, terms):
        reads.append(list(terms))
        return real(files, terms)

    monkeypatch.setattr(wand, "read_postings", spy)
    return reads


def test_parquet_filter_pushdown(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(d.filter(F.col("lang") == "en").select("doc_id"))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")
    # column pruning: scan must read only what the query needs
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_postings_term_filter_pushes_to_scan(spark, tmp_path):
    from mario_spark import docs
    from mario_spark.fixtures import documents_as_pages
    from mario_spark.postings import build_postings

    d = docs.build_doc_table(documents_as_pages(spark, SF_DIR))
    post, dic, _ = build_postings(d, 500, range_width=256)
    path = str(tmp_path / "postings")
    post.write.parquet(path)
    stored = spark.read.parquet(path)
    plan = _plan(stored.filter(F.col("term").isin(["join", "scan"])))
    flat = plan.replace(" ", "")
    assert "PushedFilters" in plan and "In(term" in flat


def test_q3_broadcasts_customer_dim(spark):
    from mario_spark.suite import q3_top_orders

    plan = _plan(q3_top_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_bm25_broadcasts_query_side(spark):
    """The per-term idf table (tiny) must broadcast into the tf join —
    never a shuffle of the full tf stream against it."""
    from mario_spark.suite import bm25_topk

    plan = _plan(bm25_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_codegen_covers_jvm_token_count(spark):
    from mario_spark.suite import token_count_bpe

    plan = _plan(token_count_bpe(spark, SF_DIR))
    # formatted mode marks codegen stages with a leading '*'
    assert "* Project" in plan


def test_topk_uses_take_ordered(spark):
    """Global top-k must plan as TakeOrderedAndProject, not a full sort."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(li.orderBy(F.desc("l_extendedprice")).limit(5))
    assert "TakeOrderedAndProject" in plan


def test_terms_agg_and_search_after_use_take_ordered(spark):
    """Facet buckets and cursor pages are global top-k: they must plan
    as TakeOrderedAndProject (never Sort over Exchange SinglePartition),
    and the search_after cursor predicate must push into the scan."""
    from mario_spark.ops import aggs

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(aggs.terms_agg(d, "lang", size=10, metric_col="n_chars"))
    assert "TakeOrderedAndProject" in plan

    page = aggs.search_after(
        d.select("doc_id", "n_chars"), "n_chars", 10, cursor=(350, 17)
    )
    plan = _plan(page)
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [" in plan and "n_chars" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_simhash_pairs_no_cross_join(spark):
    """Banded simhash pair generation must plan as an equi-join on the
    band key — never CartesianProduct / BroadcastNestedLoopJoin."""
    from mario_spark.suite import simhash_pairs

    plan = _plan(simhash_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_pairs_no_cross_join(spark):
    from mario_spark.suite import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_topk_uses_take_ordered(spark):
    """The global top-pairs finish must be TakeOrderedAndProject (each
    partition keeps k rows), not a single-partition global rank window
    over every candidate pair."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(ann.lsh_nearest_pairs(e, top_pairs=20))
    assert "TakeOrderedAndProject" in plan


def test_query_session_no_dbucket_shuffle(spark, monkeypatch, job_count):
    """QuerySession's postings are cached pre-partitioned on dbucket,
    so the groupBy(dbucket).applyInPandas must NOT plan an Exchange
    between the cache scan and the kernel (the cold path does): a warm
    distributed search is ONE job, the collect of its kernel rows."""
    from mario_spark import docs, wand
    from mario_spark.fixtures import documents_as_pages
    from mario_spark.postings import build_postings
    from mario_spark.wand import QuerySession, search_wand

    # the routes without a driver_limit argument (the cold search_wand,
    # the warm phrase and query_string) take the distributed path only
    # under a zero shared limit
    monkeypatch.setattr(wand, "DRIVER_LIMIT", 0)
    d = docs.build_doc_table(documents_as_pages(spark, SF_DIR))
    st = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st["n_docs"], range_width=256)
    sess = QuerySession(post, dic, st["n_docs"], st["avgdl"]).warm()
    plans = _collected_plans(monkeypatch)
    # driver_limit=0 forces the distributed path (the coordinator fast
    # path would otherwise serve this rare-term query driver-side)
    assert job_count(
        lambda: sess.search([(0, "join scan")], driver_limit=0)
    ) <= 1
    (plan,) = plans

    def exchange_between_scan_and_kernel(plan_text: str) -> bool:
        # walk the tree section below the kernel node until the first
        # scan (cache or parquet); an Exchange on that path is the
        # per-query dbucket shuffle. Exchanges deeper than the scan
        # belong to the cached build plan and don't count.
        lines = plan_text.splitlines()
        kernel = next(
            i for i, l in enumerate(lines) if "FlatMapGroupsInPandas" in l
        )
        for l in lines[kernel + 1 :]:
            if "InMemoryTableScan" in l or "Scan parquet" in l:
                return False
            if "Exchange" in l:
                return True
        return False

    assert not exchange_between_scan_and_kernel(plan)
    # and the cold path DOES have that exchange (sanity for the matcher)
    from mario_spark.fixtures import query_terms_df

    plans.clear()
    search_wand(
        post, dic, query_terms_df(spark, [(0, "join scan")]),
        st["n_docs"], st["avgdl"],
    )
    (cold,) = plans
    assert exchange_between_scan_and_kernel(cold)
    sess.close()

    # the warm phrase and query_string routes reuse that partitioning
    post_pos, dic_pos, n_pos, ad_pos = _positional_index(spark)
    psess = QuerySession(post_pos, dic_pos, n_pos, ad_pos).warm()
    for warm in (
        lambda: psess.search_phrase([(0, "the data")]),
        lambda: psess.search_query_string([(0, '+data "the web" -crawl')]),
    ):
        plans.clear()
        assert job_count(warm) <= 1
        (plan,) = plans
        assert not exchange_between_scan_and_kernel(plan)
    psess.close()


def _positional_index(spark):
    """(postings, dictionary, n_docs, avgdl) of a small positions=True
    index over the sf0.001 documents."""
    from mario_spark import docs
    from mario_spark.phrase import positional_tf
    from mario_spark.postings import dictionary_from_postings, encode_tf_rows

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    tfpos = positional_tf(d)
    st = docs.corpus_stats(tfpos.select("doc_id", "len").distinct()).collect()[0]
    post = encode_tf_rows(tfpos, 256)
    return post, dictionary_from_postings(post), st["n_docs"], st["avgdl"]


def test_cold_dbucket_operators_plan_one_kernel_no_window(
    spark, monkeypatch
):
    """Every cold index-backed operator is ONE scatter-gather: on the
    distributed route (forced here by a zero limit; these small batches
    would otherwise take the coordinator route) it collects a single
    per-dbucket pandas kernel's rows and ranks them on the driver, so
    neither the collected frame nor the returned one plans a rank
    window, and no operator adds a second kernel pass."""
    from mario_spark import phrase as ph
    from mario_spark import qs, wand
    from mario_spark.fixtures import query_terms_df
    from mario_spark.wand import Snapshot, TermStats, search_wand

    monkeypatch.setattr(wand, "DRIVER_LIMIT", 0)

    post, dic, n, ad = _positional_index(spark)
    snap = Snapshot(post, TermStats(lambda: dic), n, ad)
    fsnap = ph.positional_snapshot(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        {"title": F.substring("text", 1, 64), "contents": F.col("text")},
    )
    ops = {
        "search_wand": lambda: search_wand(
            post, dic, query_terms_df(spark, [(0, "data web")]), n, ad
        ),
        "search_phrase": lambda: ph.search_phrase(
            snap, [(0, ["the", "data"])]
        ),
        "search_phrase_prefix": lambda: ph.search_phrase_prefix(
            snap, [(0, ["the"], "da")]
        ),
        "search_span_or": lambda: ph.search_span_or(
            snap, [(0, [["the", "data"], ["web"]])]
        ),
        "search_span_near_unordered": lambda: ph.search_span_near_unordered(
            snap, [(0, ["data", "the"])]
        ),
        "search_span_not": lambda: ph.search_span_not(
            snap, [(0, ["the", "data"], "web")]
        ),
        "search_span_first": lambda: ph.search_span_first(
            snap, [(0, ["the", "data"], 20)]
        ),
        "search_span_contain": lambda: ph.search_span_contain(
            snap, [(0, "the", "data", 3, "query")]
        ),
        "search_query_string": lambda: snap.search_query_string(
            [(0, '+data "the web" -crawl')]
        ),
        "search_query_string_fields": lambda: fsnap.search_query_string(
            [(0, 'title:data "the query"')], default_field="contents"
        ),
        "search_simple_query_string": lambda: qs.search_simple_query_string(
            snap, [(0, 'data quer* | "the web"')]
        ),
    }
    plans = _collected_plans(monkeypatch)
    for name, op in ops.items():
        plans.clear()
        df = op()
        assert [_shape(p) for p in plans] == [(1, 0)], name
        assert _shape(_plan(df)) == (0, 0), name


def test_cold_searches_pay_only_for_their_own_jobs(spark, tmp_path, job_count):
    """A small cold Index.search / search_phrase / search_query_string
    over a multi-segment index with a tombstone generation runs NO
    Spark job: the dictionary lookup, the tombstones and, on the
    coordinator route, the batch's pruned postings are all read from
    the pinned part files on the driver (pyarrow), and the result is a
    local relation; a batch that cannot match runs no job either.
    Opening a segment table infers no schema, and the query-term frame
    and the empty result are local relations."""
    from mario_spark.fixtures import pages_df, query_terms_df
    from mario_spark.index import Index
    from mario_spark.query import empty_result

    idx = Index(spark, str(tmp_path / "idx"), "jobs")
    idx.ingest(
        pages_df(spark, 600, seed=5, partitions=4),
        positions=True, segment_docs=300,
    )
    idx.append(pages_df(spark, 120, seed=6, partitions=4))
    assert idx.stats()["segments"] == 3
    # mid-frequency terms: the deleted one, and two that are queried
    by_df = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df"), "term").limit(60)
        .collect()
    ]
    assert idx.delete_by_query([by_df[50]])["deleted"] > 0
    a, b, c = by_df[20], by_df[30], by_df[40]

    calls = {
        "search": lambda: idx.search(
            query_terms_df(spark, [(0, f"{a} {b}")]), k=10
        ),
        "search_phrase": lambda: idx.search_phrase([(0, f"the {a}")], k=10),
        "search_query_string": lambda: idx.search_query_string(
            [(0, f'{a} "the {b}" -{c}')], k=10
        ),
    }
    for name, call in calls.items():
        rows = []
        jobs = job_count(lambda: rows.extend(call().collect()))
        assert jobs == 0, (name, jobs)
        assert rows, name
    # an OOV phrase member, must clause or conjunctive term drops its
    # query before the scan: a batch left with no query runs no job
    for call in (
        lambda: idx.search_phrase([(0, f"{a} zzzqqq")], k=10),
        lambda: idx.search_query_string([(0, f"+zzzqqq {a}")], k=10),
        lambda: idx.open_pit().search(
            [(0, f"{a} zzzqqq")], k=10, conjunctive=True
        ),
    ):
        rows = []
        assert job_count(lambda: rows.extend(call().collect())) == 0
        assert rows == []

    def open_tables():
        idx.postings(), idx.docs(), idx.dictionary(), idx.deleted_ids()

    assert job_count(open_tables) == 0
    assert job_count(
        lambda: query_terms_df(spark, [(0, f"{a} {b}")]).collect()
    ) == 0
    assert job_count(lambda: empty_result(spark).collect()) == 0


def test_cold_search_over_the_limit_keeps_scatter_gather(
    spark, tmp_path, monkeypatch, job_count
):
    """A cold call whose candidate postings exceed DRIVER_LIMIT keeps
    the distributed plan: it collects one kernel's rows (no rank
    window) in at most two jobs, the postings scan's shuffle and the
    kernel, and returns the rows the coordinator route returns under
    the default limit, which reads the pruned postings from the pinned
    part files instead and collects nothing. Either way the returned
    frame is a driver-built local relation."""
    from mario_spark import wand
    from mario_spark.fixtures import pages_df, query_terms_df
    from mario_spark.index import Index

    idx = Index(spark, str(tmp_path / "idx"), "limit")
    idx.ingest(
        pages_df(spark, 300, seed=7, partitions=4),
        positions=True, segment_docs=128,
    )
    by_df = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df"), "term").limit(40)
        .collect()
    ]
    assert idx.delete_by_query([by_df[35]])["deleted"] > 0
    a, b, c = by_df[5], by_df[15], by_df[25]
    calls = {
        "search": lambda: idx.search(
            query_terms_df(spark, [(0, f"{a} {b}"), (1, c)]), k=10
        ),
        "search_phrase": lambda: idx.search_phrase(
            [(0, f"the {a}"), (1, f"{b} {c}")], k=10
        ),
        "search_query_string": lambda: idx.search_query_string(
            [(0, f'{a} "the {b}" -{c}')], k=10
        ),
    }

    plans = _collected_plans(monkeypatch)
    reads = _postings_reads(monkeypatch)
    for name, call in calls.items():
        plans.clear()
        reads.clear()
        small = call()
        assert plans == [] and len(reads) == 1, name
        assert _shape(_plan(small)) == (0, 0), name
        want = sorted(small.collect())
        assert want, name
        got = []
        plans.clear()
        reads.clear()
        with monkeypatch.context() as m:
            m.setattr(wand, "DRIVER_LIMIT", 1)
            jobs = job_count(lambda: got.append(call()))
        assert [_shape(p) for p in plans] == [(1, 0)], name
        assert reads == [], name
        assert jobs <= 2, (name, jobs)
        (big,) = got
        assert _shape(_plan(big)) == (0, 0), name
        assert sorted(big.collect()) == want, name


def test_positional_batches_weigh_more_against_the_limit(
    spark, tmp_path, monkeypatch
):
    """A positional candidate counts POSITIONAL_WEIGHT term candidates
    against DRIVER_LIMIT: under a limit between a batch's candidate
    postings and their weighted count, a term search over its terms
    takes the coordinator route while the phrase and query_string
    batches over the same terms stay distributed, with equal rows on
    either route."""
    from mario_spark import wand
    from mario_spark.fixtures import pages_df, query_terms_df
    from mario_spark.index import Index

    idx = Index(spark, str(tmp_path / "idx"), "weight")
    idx.ingest(pages_df(spark, 200, seed=8, partitions=4), positions=True)
    top = idx.dictionary().orderBy(F.desc("df"), "term").limit(12).collect()
    (a, da), (b, db) = [(r["term"], r["df"]) for r in top[10:12]]
    n = da + db  # the candidate postings of every batch below

    calls = {
        "search": (lambda: idx.search(
            query_terms_df(spark, [(0, f"{a} {b}")]), k=10
        ), 1),
        "search_phrase": (
            lambda: idx.search_phrase([(0, f"{a} {b}")], k=10),
            wand.POSITIONAL_WEIGHT,
        ),
        "search_query_string": (
            lambda: idx.search_query_string([(0, f'{a} "{a} {b}"')], k=10),
            wand.POSITIONAL_WEIGHT,
        ),
    }
    assert wand.POSITIONAL_WEIGHT > 1
    plans = _collected_plans(monkeypatch)
    reads = _postings_reads(monkeypatch)
    for name, (call, weight) in calls.items():
        want = sorted(call().collect())
        assert want, name
        for limit in (n, n * weight - 1, n * weight):
            monkeypatch.setattr(wand, "DRIVER_LIMIT", limit)
            plans.clear()
            reads.clear()
            got = call()
            # the coordinator route reads the pinned postings files,
            # the distributed one collects the kernel's rows
            driver = n * weight <= limit
            assert [_shape(p) for p in plans] == (
                [] if driver else [(1, 0)]
            ), (name, limit)
            assert len(reads) == (1 if driver else 0), (name, limit)
            assert _shape(_plan(got)) == (0, 0), (name, limit)
            assert sorted(got.collect()) == want, (name, limit)


def test_driver_rank_finish_rounds_like_spark(spark):
    """The driver finish equals query.topk: scores rounded exactly as
    Spark's round(x, 4) (HALF_UP on the shortest repr, where
    floor(x * 1e4 + 0.5) misrounds near ties), then ranked by score
    desc, doc_id asc. Fed each bucket's _local_topk rows, as the
    kernels feed it, it still equals query.topk over all rows."""
    import numpy as np
    import pandas as pd

    from mario_spark.query import topk
    from mario_spark.wand import (
        _local_topk,
        _rank_on_driver,
        _result_frame,
        round_half_up,
    )

    vals = [5.39575, 0.10704999999999999, 15.926449999999999]
    assert list(round_half_up(np.array(vals))) == [5.3958, 0.107, 15.9264]
    got = spark.createDataFrame(
        pd.DataFrame({"x": vals})
    ).select(F.round("x", 4).alias("r")).collect()
    assert [r["r"] for r in got] == [5.3958, 0.107, 15.9264]

    rng = np.random.default_rng(7)
    ties = (rng.integers(0, 300_000, 3000) + 0.5) / 1e4
    near = ties + rng.integers(-3, 4, 3000) * np.spacing(ties)
    scores = np.concatenate([vals, ties, near, rng.uniform(0, 30, 3000)])
    local = pd.DataFrame({
        "query_id": np.arange(scores.size, dtype=np.int64) % 7,
        "doc_id": rng.permutation(scores.size).astype(np.int64),
        "score": scores,
    })
    # two queries whose 80 docs all round to one score, so each bucket
    # below holds more than k docs tied at the k-th rounded score. In
    # query 7 the 20 lowest doc ids score 5.39575, which Spark rounds
    # up to 5.3958 and floor(x * 1e4 + 0.5) rounds down; in query 8 the
    # lower the doc id, the lower the raw float
    j = np.arange(80)
    tied = pd.DataFrame({
        "query_id": np.repeat(np.array([7, 8], dtype=np.int64), 80),
        "doc_id": scores.size + np.r_[j, 80 + j].astype(np.int64),
        "score": np.r_[
            np.where(j < 20, 5.39575, 5.3958), 31 + (j - 40) * 1e-6
        ],
    })
    local = pd.concat([local, tied], ignore_index=True)
    key = ["query_id", "rank"]

    def check(out, k):
        want = topk(spark.createDataFrame(local), k).toPandas()
        pd.testing.assert_frame_equal(
            out.sort_values(key, ignore_index=True),
            want.sort_values(key, ignore_index=True),
            check_exact=True,
        )

    for k in (10, len(local)):
        check(_rank_on_driver(spark, local, k).toPandas(), k)
    # the kernels' path: each bucket's top-k per query (_local_topk),
    # then the finish, equals the global top-k
    picked = _result_frame([
        _local_topk(q, g["doc_id"].to_numpy(), g["score"].to_numpy(), 10)
        for (_, q), g in local.groupby([local["doc_id"] % 4, "query_id"])
    ])
    check(_rank_on_driver(spark, picked, 10).toPandas(), 10)


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """(index, tail terms a, b, c): a 2-segment positional index with a
    tombstone generation, and three mid-df terms whose batches stay
    under the driver limit."""
    from mario_spark.fixtures import pages_df
    from mario_spark.index import Index

    idx = Index(spark, str(tmp_path_factory.mktemp("served")), "served")
    idx.ingest(
        pages_df(spark, 400, seed=9, partitions=4),
        positions=True, segment_docs=200,
    )
    by_df = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df"), "term").limit(60)
        .collect()
    ]
    assert idx.delete_by_query([by_df[50]])["deleted"] > 0
    return idx, by_df[20], by_df[30], by_df[40]


def _route_calls(served) -> dict:
    """name -> fn(snapshot) for the term, phrase and query_string
    bodies over the `served` index's tail terms."""
    _, a, b, c = served
    return {
        "search": lambda s: s.search([(0, f"{a} {b}"), (1, c)], k=10),
        "search_phrase": lambda s: s.search_phrase(
            [(0, f"the {a}"), (1, f"{b} {c}")], k=10
        ),
        "search_query_string": lambda s: s.search_query_string(
            [(0, f'{a} "the {b}" -{c}')], k=10
        ),
    }


def test_warm_session_reads_its_pinned_files(
    spark, served, monkeypatch, job_count
):
    """A session opened from a local index reads a small batch's pruned
    postings from the part files its pin holds open, as a cold call
    does: a warm tail term, phrase and query_string search runs NO Spark
    job and returns the cold call's rows. A frame-built session has no
    part files and still collects its pruned postings from its cache,
    in one job."""
    from mario_spark.wand import QuerySession

    idx, a, b, _ = served
    calls = _route_calls(served)
    reads = _postings_reads(monkeypatch)
    with idx.open_session().warm() as sess, idx.open_pit() as pit:
        assert sess.postings_files
        for name, call in calls.items():
            got = []
            reads.clear()
            assert job_count(lambda: got.extend(call(sess).collect())) == 0
            assert len(reads) == 1, name
            assert got and sorted(got) == sorted(call(pit).collect()), name
    # closing the session closes the part files of its pin
    assert all(pf.closed for pf in sess.postings_files)

    st = idx.stats()
    with QuerySession(
        idx.postings(), idx.dictionary(), st["n_docs"], st["avgdl"]
    ).warm() as framed:
        assert framed.postings_files is None
        rows = []
        reads.clear()
        jobs = job_count(
            lambda: rows.extend(framed.search([(0, f"{a} {b}")]).collect())
        )
        assert jobs == 1 and rows and reads == []


def test_pinned_distributed_route_ships_no_snapshot(
    spark, served, monkeypatch, job_count
):
    """The distributed route of a snapshot that holds open part files
    (a pin, a session opened from the index) still runs for term,
    phrase and query_string batches, with the coordinator route's rows:
    its kernel closures are pickled into the tasks, and an open part
    file does not pickle, so no kernel may capture the snapshot."""
    from mario_spark import wand

    idx = served[0]
    calls = _route_calls(served)
    reads = _postings_reads(monkeypatch)
    with idx.open_session() as sess, idx.open_pit() as pit:
        for snap in (pit, sess):
            assert snap.postings_files
            for name, call in calls.items():
                want = sorted(call(snap).collect())
                assert want, name
                reads.clear()
                with monkeypatch.context() as m:
                    m.setattr(wand, "DRIVER_LIMIT", 0)
                    got = []
                    jobs = job_count(lambda: got.extend(call(snap).collect()))
                assert jobs >= 1 and reads == [], name
                assert sorted(got) == want, name


def test_cold_multiterm_reads_its_pinned_dictionary(
    spark, served, tmp_path, job_count
):
    """A cold Index.search_multiterm on a local index runs NO Spark job
    for a pattern anchored at its start (prefix, fuzzy, wildcard), also
    field-scoped on a fields=... index: its prefix windows are read
    from the pinned dictionary part files with pyarrow, and the
    expansion scores on the coordinator route; a pinned phrase_prefix
    reads its window the same way. A leading wildcard's suffix window
    still runs Spark."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import pages_df
    from mario_spark.index import Index

    idx = served[0]
    fielded = Index(spark, str(tmp_path / "fielded"), "fielded")
    fielded.ingest(
        pages_df(spark, 300, seed=5, partitions=4).withColumn(
            "title", F.substring("text", 1, 48)
        ),
        segment_docs=128, fields={"title": "title", "contents": "text"},
    )
    calls = {
        "prefix": lambda: idx.search_multiterm(
            [(0, "w001"), (1, "dat")], kind="prefix"
        ),
        "fuzzy": lambda: idx.search_multiterm([(0, "w0000z")], kind="fuzzy"),
        "wildcard": lambda: idx.search_multiterm(
            [(0, "w0?00*")], kind="wildcard"
        ),
        "title prefix": lambda: fielded.search_multiterm(
            [(0, "w00")], kind="prefix", field="title"
        ),
        "title fuzzy": lambda: fielded.search_multiterm(
            [(0, "w0000z")], kind="fuzzy", field="title"
        ),
    }
    with idx.open_pit() as pit:
        calls["pinned phrase_prefix"] = lambda: ph.search_phrase_prefix(
            pit, [(0, ["the"], "da")], k=10
        )
        for name, call in calls.items():
            rows = []
            assert job_count(lambda: rows.extend(call().collect())) == 0, name
            assert rows, name
    rows = []
    jobs = job_count(lambda: rows.extend(
        idx.search_multiterm([(0, "*001")], kind="wildcard").collect()
    ))
    assert jobs >= 1 and rows


def test_open_session_sums_segment_dictionaries_on_driver(
    spark, tmp_path, job_count
):
    """Opening a session on a tombstoned multi-segment index runs no
    job: the unaggregated segment dictionaries (df summed on the
    driver, no groupBy shuffle) and the tombstones are read with
    pyarrow. The held df map equals the aggregated dictionary."""
    from mario_spark.fixtures import pages_df
    from mario_spark.index import Index

    idx = Index(spark, str(tmp_path / "idx"), "sess")
    idx.ingest(pages_df(spark, 300, seed=5, partitions=4), segment_docs=128)
    assert idx.stats()["segments"] > 1
    dic = {r["term"]: r["df"] for r in idx.dictionary().collect()}
    assert idx.delete_by_query([sorted(dic, key=dic.get)[-20]])["deleted"]
    opened = []
    assert job_count(lambda: opened.append(idx.open_session())) == 0
    sess = opened[0]
    assert sess.terms._df_map == dic
    assert sess.deleted is not None
    sess.close()


def test_federated_dfs_search_looks_df_up_once(
    spark, tmp_path, monkeypatch, job_count
):
    """A dfs_query_then_fetch search over two 300-doc indexes, one with
    a tombstone generation, runs no job: like a single-index cold call
    it reads the dictionaries (ONE df lookup over both members' segment
    dictionaries), the tombstones and each member's small batch of
    postings from their part files, so it opens no table frame. A
    federated search over empty members returns a local relation (no
    job)."""
    from mario_spark import index as index_mod
    from mario_spark import wand
    from mario_spark.federate import search_indexes
    from mario_spark.fixtures import pages_df, query_terms_df
    from mario_spark.index import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    names = ["a-2026-01-01t00-00-00z", "b-2026-01-01t00-00-00z"]
    for seed, name in enumerate(names):
        cat.create(name).ingest(pages_df(spark, 300, seed=seed, partitions=4))
    by_df = [
        r["term"]
        for r in cat.open(names[1]).dictionary()
        .orderBy(F.desc("df"), "term").limit(40).collect()
    ]
    assert cat.open(names[1]).delete_by_query([by_df[30]])["deleted"] > 0
    q = query_terms_df(spark, [(0, f"{by_df[10]} {by_df[20]}")])
    opened: list[str] = []
    real_read_table = index_mod.read_table

    def read_table(spark_, *paths):
        opened.extend(paths)
        return real_read_table(spark_, *paths)

    lookups: list[list[str]] = []
    real_read_df = wand.read_df

    def read_df(files, terms):
        lookups.append(terms)
        return real_read_df(files, terms)

    monkeypatch.setattr(index_mod, "read_table", read_table)
    monkeypatch.setattr(wand, "read_df", read_df)
    rows = []
    jobs = job_count(
        lambda: rows.extend(search_indexes(cat, names, q).collect())
    )
    assert jobs == 0, jobs
    assert rows
    assert opened == [], opened
    assert len(lookups) == 1, lookups
    cat.create("empty-2026-01-01t00-00-00z")
    assert job_count(
        lambda: search_indexes(cat, ["empty-2026-01-01t00-00-00z"], q)
        .collect(),
    ) == 0


def test_filtered_search_semi_join_no_extra_shuffle(spark):
    """Filter context must plan the doc_id restriction as a (LeftSemi)
    join after aggregation — and the filter side's predicate must push
    into its parquet scan."""
    from mario_spark.suite import bm25_topk_filtered

    plan = _plan(bm25_topk_filtered(spark, SF_DIR))
    assert "LeftSemi" in plan
    flat = plan.replace(" ", "")
    assert "PushedFilters" in plan and "lang" in flat


def test_range_agg_broadcasts_dim_and_emits_empty_buckets(spark):
    """The ranges dim is tiny: the non-equi join must broadcast (never
    shuffle the fact side against 4 rows), and the empty tail bucket
    must still be emitted with doc_count 0."""
    from mario_spark.suite import agg_range_nchars

    out = agg_range_nchars(spark, SF_DIR)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan  # non-equi + broadcast dim
    rows = {r["key"]: r for r in out.collect()}
    assert rows["1000000-"]["doc_count"] == 0
    assert rows["1000000-"]["avg"] == 0.0


def test_cardinality_kmv_partitions_by_key(spark):
    """The KMV top-k window partitions by the agg key — the plan must
    never collapse to a single partition."""
    from mario_spark.suite import agg_cardinality_users

    plan = _plan(agg_cardinality_users(spark, SF_DIR))
    assert "SinglePartition" not in plan


def test_regexp_expansion_broadcasts_query_side(spark):
    """The regexp dictionary pass must broadcast the (tiny) pattern
    table — never shuffle or nested-loop the vocabulary against it on
    a non-broadcast side."""
    from mario_spark import docs
    from mario_spark.fixtures import documents_as_pages
    from mario_spark.fuzzy import expand_regexp
    from mario_spark.postings import build_postings

    d = docs.build_doc_table(documents_as_pages(spark, SF_DIR))
    _, dic, _ = build_postings(d, 500, range_width=256)
    q = spark.createDataFrame([(0, "jo.n")], "query_id long, term string")
    plan = _plan(expand_regexp(dic, q))
    assert "BroadcastNestedLoopJoin" in plan  # theta join, broadcast side
    assert "CartesianProduct" not in plan


def test_doc_id_assignment_never_single_partitions(spark):
    """The classic row_number-over-global-Window trap collapses to ONE
    partition; our partition-offset technique must not."""
    from mario_spark import docs
    from mario_spark.fixtures import pages_df

    pages = pages_df(spark, 400, seed=2, partitions=4)
    ids = docs.assign_doc_ids(pages.select("url", "lang", "text"))
    plan = _plan(ids)
    # a global Window would show 'Window' with no partition spec and a
    # preceding Exchange SinglePartition
    assert "SinglePartition" not in plan


def test_suggest_terms_broadcasts_inputs(spark):
    """The did-you-mean dictionary pass must broadcast the tiny input
    list (BroadcastNestedLoopJoin over the length-band theta join),
    never shuffle the dictionary."""
    from mario_spark.suite import term_suggest

    plan = _plan(term_suggest(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_spine_broadcasts(spark):
    """The empty-bucket spine is dozens of rows — it must broadcast
    into the left join against the hash agg."""
    from mario_spark.suite import agg_histogram_nchars

    plan = _plan(agg_histogram_nchars(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_scan_side_filter(spark):
    """The hash-coin sample is a pure Filter over the scan: no
    Exchange (shuffle) anywhere in the plan."""
    from mario_spark.suite import stratified_sample

    plan = _plan(stratified_sample(spark, SF_DIR))
    assert "Exchange" not in plan


def test_boosting_broadcasts_negative_set(spark):
    from mario_spark.suite import boosting_topk

    plan = _plan(boosting_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_windows_by_shard(spark):
    """The running-sum window partitions by shard — a global
    (SinglePartition) window would serialize the whole corpus."""
    from mario_spark.suite import pack_sequences

    plan = _plan(pack_sequences(spark, SF_DIR))
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan.replace(" ", "")


def test_adjacency_matrix_single_pass_no_join(spark):
    """All singles + pairwise intersections must come from ONE
    conditional-sum aggregation over one scan — no joins, no union of
    per-filter scans."""
    from mario_spark.suite import agg_adjacency_matrix

    plan = _plan(agg_adjacency_matrix(spark, SF_DIR))
    assert "Join" not in plan and "Union" not in plan
    # tree section lists each scan once as "Scan parquet  (n)"
    assert plan.count("Scan parquet  (") == 1


def test_geo_rings_broadcast_dim(spark):
    """The rings dim must broadcast (empty-ring LEFT join); the doc
    side must not shuffle into the join."""
    from mario_spark.suite import agg_geo_distance_rings

    plan = _plan(agg_geo_distance_rings(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_multi_terms_take_ordered(spark):
    from mario_spark.suite import agg_multi_terms

    plan = _plan(agg_multi_terms(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_match_count_broadcasts_queries_no_window(spark):
    """_count is a pure agg: query terms broadcast, no rank window,
    no sort anywhere."""
    from mario_spark.suite import match_count

    plan = _plan(match_count(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Sort" not in plan.replace(
        "SortAggregate", ""
    )


def test_bucket_pipeline_aggs_single_scan(spark):
    """bucket_script + bucket_selector run on the reduced bucket
    table: one scan of events, no join, no window."""
    from mario_spark.suite import agg_bucket_selector

    plan = _plan(agg_bucket_selector(spark, SF_DIR))
    assert plan.count("Scan parquet  (") == 1
    assert "Join" not in plan and "Window" not in plan


def test_pinned_broadcasts_pins_no_cartesian(spark):
    """Pin dim joins must broadcast (pins are a literal list) and the
    union of pinned + organic must not introduce a cartesian or a
    global (unpartitioned) sort."""
    from mario_spark.suite import pinned_topk

    plan = _plan(pinned_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucket_sort_take_ordered(spark):
    """ES bucket_sort = orderBy().limit() over the reduced bucket
    table -> TakeOrderedAndProject, not a global Sort+Exchange."""
    from mario_spark.suite import agg_bucket_sort

    plan = _plan(agg_bucket_sort(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_semdedup_broadcasts_centroids(spark):
    """Centroid assignment is the broadcast-matrix mapInPandas argmin
    (_assign_cells): no per-vector rank window (a Window keyed on
    vec_id would shuffle N x n_cells rows) and no cartesian — the
    centroid matrix rides the task closure, not a join."""
    from mario_spark.suite import semdedup_keep

    plan = _plan(semdedup_keep(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # no Window operator may be keyed on vec_id (per-vector rank)
    for frag in plan.split("\n"):
        if "Window" in frag and "partition" in frag.lower():
            assert "vec_id" not in frag


def test_chunk_dedup_shuffles_digests_not_text(spark):
    """chunk_dedup's exchanges must carry md5 digests and packed order
    keys only — the text/token-array column never crosses a shuffle."""
    from mario_spark.suite import chunk_dedup

    plan = _plan(chunk_dedup(spark, SF_DIR))
    import re

    lines = plan.splitlines()
    inputs = [
        lines[i + 1]
        for i, l in enumerate(lines)
        if re.fullmatch(r"\(\d+\) Exchange", l.strip())
    ]
    assert inputs, "expected hash exchanges in the chunk_dedup plan"
    for l in inputs:
        assert "text" not in l and "arr" not in l, l


def test_terms_set_broadcasts_query_dim_no_cartesian(spark):
    """terms_set: the (query, term, idf, min_match) dim must broadcast
    onto tf; the min_match filter rides the same agg — no extra join,
    no cartesian."""
    from mario_spark.suite import terms_set_topk

    plan = _plan(terms_set_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_percolate_broadcasts_registry(spark):
    """percolate: the stored-query registry is the dim — it must
    broadcast; the corpus itself never becomes a join build side."""
    from mario_spark.suite import percolate_match

    plan = _plan(percolate_match(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_combined_fields_single_idf_no_cartesian(spark):
    """combined_fields: per-field tf unions feed ONE (doc, term) agg;
    the query/idf dim broadcasts; no cartesian anywhere."""
    from mario_spark.suite import combined_fields_topk

    plan = _plan(combined_fields_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_distance_feature_joins_after_agg(spark):
    """distance_feature: the decay join is on doc_id AFTER the BM25
    agg (HashAggregate appears before the value join in the plan tree),
    and the plan stays cartesian-free."""
    from mario_spark.suite import distance_feature_topk

    plan = _plan(distance_feature_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_intervals_pure_codegen_no_python(spark):
    """intervals must run as Catalyst array HOFs — no Python eval node
    (the span kernels are mapInPandas; this path must not be)."""
    from mario_spark.suite import intervals_topk

    plan = _plan(intervals_topk(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_rrf_fuses_small_windows(spark):
    """RRF fusion joins two already-top-k frames: no cartesian and no
    global (unpartitioned) sort anywhere in the fused plan."""
    from mario_spark.suite import rrf_hybrid_topk

    plan = _plan(rrf_hybrid_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_lm_cross_entropy_broadcasts_vocab_scalar(spark):
    """The vocab-size frame is 1 row — it must broadcast; count tables
    join hash-side; no cartesian beyond that broadcast."""
    from mario_spark.suite import lm_cross_entropy

    plan = _plan(lm_cross_entropy(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ids_query_pushes_in_filter_to_scan(spark):
    """ids query must be a pushed-down In filter on the parquet scan."""
    from mario_spark.suite import ids_query

    plan = _plan(ids_query(spark, SF_DIR))
    assert "PushedFilters" in plan and "In(doc_id" in plan.replace(" ", "")


def test_ann_filtered_pushes_label_filter(spark):
    """kNN pre-filtering: the label predicate must reach the candidate
    parquet scan, pruning before any distance math."""
    from mario_spark.suite import ann_filtered_topk

    plan = _plan(ann_filtered_topk(spark, SF_DIR))
    assert "EqualTo(label,3)" in plan.replace(" ", "")


def test_bool_prefix_broadcasts_prefix_dim(spark):
    """match_bool_prefix: the startswith theta-join must be a broadcast
    nested loop of the tiny prefix dim — never a CartesianProduct."""
    from mario_spark.suite import bool_prefix_topk

    plan = _plan(bool_prefix_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_frequent_item_sets_apriori_prune_broadcast(spark):
    """frequent_item_sets: the frequent-item dim (post-support-prune)
    must broadcast into the presence frame before pair generation."""
    from mario_spark.suite import agg_frequent_item_sets

    plan = _plan(agg_frequent_item_sets(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_field_folds_into_scan(spark):
    """A runtime field is a projection — the terms agg over it must
    stay one scan + hash agg + TakeOrderedAndProject (no join, no
    window)."""
    from mario_spark.suite import runtime_field_terms

    plan = _plan(runtime_field_terms(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_eql_sequence_pushes_type_filters(spark):
    """EQL sequence: both event-type filters must reach the parquet
    scans; the key join must not be a cartesian."""
    from mario_spark.suite import eql_sequence_vp

    plan = _plan(eql_sequence_vp(spark, SF_DIR))
    flat = plan.replace(" ", "")
    assert "EqualTo(event_type,view)" in flat
    assert "EqualTo(event_type,purchase)" in flat
    assert "CartesianProduct" not in plan


def test_transform_pivot_single_agg_no_join(spark):
    """Transform pivot: one hash agg over the scan, no join anywhere
    (all metrics algebraic)."""
    from mario_spark.suite import transform_pivot_users

    plan = _plan(transform_pivot_users(spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_categorize_text_take_ordered(spark):
    """categorize_text: signature projection + hash agg +
    TakeOrderedAndProject — no window, no join."""
    from mario_spark.suite import categorize_text_docs

    plan = _plan(categorize_text_docs(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_linear_hybrid_no_cartesian(spark):
    """linear retriever fusion: min-max dims broadcast; no cartesian."""
    from mario_spark.suite import linear_hybrid_topk

    plan = _plan(linear_hybrid_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_sparse_vector_broadcast_single_agg(spark):
    """sparse_vector: query terms broadcast onto the weight stream,
    one (query, doc) hash agg, no cartesian."""
    from mario_spark.suite import sparse_vector_topk

    plan = _plan(sparse_vector_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_bucket_single_pass(spark):
    """global agg: filtered + global metrics in ONE aggregation pass
    (conditional sums), no join, no second scan."""
    from mario_spark.suite import agg_global_bucket

    plan = _plan(agg_global_bucket(spark, SF_DIR))
    assert "Join" not in plan
    # exactly one scan (each scan prints one Location line)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_esql_pipeline_one_plan_pushdown_takeordered(spark):
    """ES|QL pipeline compiles to ONE Catalyst plan: the WHERE folds
    into the parquet scan and SORT+LIMIT fuse to
    TakeOrderedAndProject."""
    from mario_spark.suite import esql_stats

    plan = _plan(esql_stats(spark, SF_DIR))
    assert "EqualTo(lang,en)" in plan.replace(" ", "")
    assert "TakeOrderedAndProject" in plan


def test_esql_enrich_broadcasts_dim(spark):
    """ES|QL ENRICH = broadcast lookup join of the policy dim."""
    from mario_spark.suite import esql_enrich

    plan = _plan(esql_enrich(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_has_parent_broadcasts_parent_dim(spark):
    """has_parent = broadcast of the filtered parent dim; the child
    side must stay a scan-side probe (no shuffle of children to join)."""
    from mario_spark.suite import has_parent_match

    plan = _plan(has_parent_match(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_has_child_pushes_child_filter(spark):
    """has_child's inner query must reach the child parquet scan, and
    the final top-k must be TakeOrderedAndProject, not a global sort."""
    from mario_spark.suite import has_child_topk

    plan = _plan(has_child_topk(spark, SF_DIR))
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan.replace(" ", "")
    assert "TakeOrderedAndProject" in plan


def test_inlinestats_broadcasts_group_table(spark):
    """ES|QL INLINESTATS joins the reduced group table back to the fact
    rows as a broadcast — the fact side must never shuffle."""
    from mario_spark.suite import esql_inlinestats

    plan = _plan(esql_inlinestats(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_geo_polygon_is_pure_scan_predicate(spark):
    """The unrolled ray-cast must fuse into the scan: no join, no UDF,
    no exchange before the filter."""
    from mario_spark.suite import geo_polygon_query

    plan = _plan(geo_polygon_query(spark, SF_DIR))
    assert "Join" not in plan
    assert "Python" not in plan  # no UDF of any kind
    assert "codegen id" in plan  # filter runs inside whole-stage codegen
    assert "Exchange" not in plan  # single scan, zero shuffles


def test_geo_sort_topk_is_take_ordered(spark):
    """Sort-by-_geo_distance top-10 must plan as TakeOrderedAndProject,
    never a global sort of the corpus."""
    from mario_spark.suite import geo_sort_topk

    plan = _plan(geo_sort_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_mixture_resample_broadcasts_rates(spark):
    """The O(#domains) rate table must broadcast into the doc scan; the
    keep decision is a filter, not a shuffle of the docs."""
    from mario_spark.suite import mixture_resample

    plan = _plan(mixture_resample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_esql_sample_fuses_into_scan(spark):
    """SAMPLE's md5 coin is a pure projection predicate — single scan,
    one hash agg, nothing else."""
    from mario_spark.esql import run_esql

    plan = _plan(
        run_esql(
            spark, SF_DIR,
            'FROM documents | SAMPLE 0.25 | STATS n = COUNT(*) BY lang',
        )
    )
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # agg partial->final only


def test_bit_hamming_local_topk_bounds_exchange(spark):
    """Bit-vector kNN: each partition pre-selects its local top-k per
    query, so the frame entering the global rank window is bounded by
    batches x |queries| x k — NEVER corpus-sized — and no cartesian
    appears anywhere."""
    from mario_spark.ops.ann import _bit_hamming_local, bit_hamming_topk
    from mario_spark.suite import ann_bit_hamming_topk

    plan = _plan(ann_bit_hamming_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    qids = [0, 7, 21]
    k = 10
    local = _bit_hamming_local(emb, qids, k)
    pre_window = local.count()
    # arrow batches cap at 10k rows -> a generous upper bound on
    # batches; the real point is pre_window << n * len(qids)
    n_parts = emb.rdd.getNumPartitions()
    max_batches = n_parts + n // 10_000 + 1
    assert pre_window <= max_batches * len(qids) * k
    assert pre_window < n * len(qids) / 10
    # and the global result is still exactly k per query
    res = bit_hamming_topk(emb, qids, k=k)
    assert res.count() == len(qids) * k


def test_collapse_inner_hits_broadcasts_groups(spark):
    """collapse+inner_hits: the 5-groups-per-query survivor list joins
    back as a broadcast; no global (unpartitioned) sort appears."""
    from mario_spark.suite import collapse_inner_hits

    plan = _plan(collapse_inner_hits(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_and_training_order_plan_shapes(spark):
    """Bloom membership must broadcast the bit set into a left-semi
    join (the candidate side streams map-side); the training-order rank
    window must partition by shard — never Exchange SinglePartition."""
    from mario_spark.suite import bloom_decontaminate, training_order

    plan = _plan(bloom_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    plan = _plan(training_order(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_exact_substring_dedup_gram_shuffles_carry_digests(spark):
    """The gram stream (n x corpus volume) must cross exchanges as md5
    digests + packed int keys only; the token array may appear in at
    most ONE exchange — the irreducible doc_id rewrite join."""
    import re

    from mario_spark.suite import exact_substring_dedup

    plan = _plan(exact_substring_dedup(spark, SF_DIR))
    lines = plan.splitlines()
    inputs = [
        lines[i + 1]
        for i, l in enumerate(lines)
        if re.fullmatch(r"\(\d+\) Exchange", l.strip())
    ]
    assert inputs, "expected hash exchanges in the exact_substring plan"
    with_arr = [l for l in inputs if "arr" in l or "text" in l]
    assert len(with_arr) <= 1, with_arr
    assert "CartesianProduct" not in plan


def test_bpe_encode_is_pure_codegen(spark):
    """The BPE apply chain must stay JVM-side: no Python evaluation node
    of any kind in the plan (the whole point of the replace() encoding)."""
    from mario_spark.ops.textstats import bpe_encode_stats

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(bpe_encode_stats(d))
    assert "EvalPython" not in plan  # catches Batch- and ArrowEvalPython
    assert "codegen id" in plan  # formatted mode's WholeStageCodegen marker


def test_synonym_graph_no_cartesian(spark):
    """Both synonym paths join on keys (term / query_id / doc_id); the
    only cross joins are 1-row broadcast stats."""
    from mario_spark.fixtures import SYNONYM_GRAPH_SET
    from mario_spark.phrase import search_synonym_graph

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(search_synonym_graph(d, SYNONYM_GRAPH_SET, k=10))
    assert "CartesianProduct" not in plan


def test_knn_graph_plans_are_matmul_shaped(spark):
    """knn_graph: one MapInPandas over the candidate scan (broadcast
    query matrix rides the closure), no cartesian/NLJ, and the only
    wide operators are the per-src rank window's exchange. The IVF
    variant groups by cell (FlatMapGroupsInPandas) — again no
    cartesian product anywhere."""
    from mario_spark.ops import ann

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = _plan(ann.knn_graph(e, k=5))
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # local top-k bounds the window input: the plan sorts AFTER the
    # python stage, never the raw N x N pair stream
    p2 = _plan(ann.knn_graph_ivf(e, k=5))
    assert "FlatMapGroupsInPandas" in p2
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_ip_prefix_single_hash_agg(spark):
    """ip_prefix agg: exactly one aggregation pair (partial+final) over
    the scan — the mask is codegen arithmetic, no UDF, no join."""
    from mario_spark.ops import aggs

    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ip",
        F.concat_ws(
            ".", F.lit(10),
            F.pmod(F.col("user_id"), F.lit(64)).cast("string"),
            F.pmod(F.floor(F.col("event_id") / 256), F.lit(256)).cast("string"),
            F.pmod(F.col("event_id"), F.lit(256)).cast("string"),
        ),
    )
    p = _plan(aggs.ip_prefix_agg(ev, "ip", 20))
    # formatted mode prints each node in the tree AND in the details
    # section; count tree nodes only
    assert p.count(") HashAggregate") == 2  # partial + final
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p


def test_lsh_verify_joins_are_shuffled_hash(spark):
    """Jaccard verify must stream the candidate table through
    SHUFFLE_HASH joins against the per-doc digest tables — the default
    sort-merge plan sorts the (possibly quadratic) candidate stream
    twice with fetched arrays aboard, which measured 14x slower and
    OOMed executors on the sf1 stretch corpus. Both digest joins are
    hinted and the salted pair join adds a 3rd."""
    from mario_spark.suite import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(spark, SF_DIR))
    assert plan.count("ShuffledHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
