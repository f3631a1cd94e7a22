"""Sharded-dictionary QuerySession: the 100x-vocab serving mode.

The warm session's full-vocab driver dictionary is a scale ceiling —
at web vocabulary (10^8-10^9 distinct terms) the {term: df} dict is
tens of GB of driver heap. Above `vocab_cache_max` the session keeps
the dictionary as executor-cached range-partitioned shards plus a
bounded driver LRU; these tests force the threshold tiny so the
sandbox corpus exercises the sharded paths, and assert the results
stay bit-identical to the cold engine / full-cache session while the
driver provably never materializes the vocabulary.
"""

from __future__ import annotations

import pandas as pd

from mario_spark import docs
from mario_spark.fixtures import make_pages_query_set, pages_df, query_terms_df
from mario_spark.postings import build_postings
from mario_spark.wand import QuerySession, search_wand


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def _build(spark, n=800, seed=11):
    pages = pages_df(spark, n, seed=seed, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st["n_docs"])
    return d, st, post, dic


def test_sharded_session_bit_identical_to_cold_and_never_holds_vocab(spark):
    """vocab_cache_max forced to 10 (vocab is thousands of terms) must
    flip the session into sharded mode; term search on BOTH routing
    paths must equal cold search_wand bit-for-bit, and afterwards the
    driver must hold no full-vocab structure — no _df_map, no sorted
    vocab arrays, and an LRU bounded by the query-touched term count."""
    d, st, post, dic = _build(spark)
    n_vocab = dic.count()
    qset = make_pages_query_set(seed=11, n=8)
    qdf = query_terms_df(spark, qset)
    want = _canon(
        search_wand(post, dic, qdf, st["n_docs"], st["avgdl"], k=10)
    )
    assert len(want) > 0

    sess = QuerySession(
        post, dic, st["n_docs"], st["avgdl"], vocab_cache_max=10
    ).warm()
    assert sess.terms._df_map is None and sess.terms.table is not None
    for lim in (0, 10**9):
        got = _canon(sess.search(qset, k=10, driver_limit=lim))
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    # repeat query: served from the LRU (no correctness drift)
    got = _canon(sess.search(qset, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    assert sess.terms._df_map is None
    assert sess.terms._vocab_arr is None and sess.terms._rvocab_arr is None
    touched = len(sess.terms._df_lru)
    assert 0 < touched < n_vocab  # query-touched terms only, never vocab
    sess.close()
    d.unpersist()


def test_sharded_session_must_not_msm_filter_compose(spark):
    """bool composition (must_not + minimum_should_match + filter
    context) must route identically through the sharded dictionary."""
    d, st, post, dic = _build(spark, n=600, seed=13)
    qset = make_pages_query_set(seed=13, n=6)
    full = QuerySession(post, dic, st["n_docs"], st["avgdl"])
    shard = QuerySession(
        post, dic, st["n_docs"], st["avgdl"], vocab_cache_max=10
    )
    assert full.terms._df_map is not None and shard.terms._df_map is None
    kw = dict(
        k=10,
        must_not=[(qset[0][0], "crawl")],
        min_should_match=1,
        filter_terms=["web"],
    )
    for lim in (0, 10**9):
        pd.testing.assert_frame_equal(
            _canon(shard.search(qset, driver_limit=lim, **kw)),
            _canon(full.search(qset, driver_limit=lim, **kw)),
            check_exact=False,
            atol=1e-9,
        )
    full.close()
    shard.close()
    d.unpersist()


def test_sharded_multiterm_windows_match_full_cache(spark):
    """Multi-term expansion in sharded mode fetches only the pattern's
    window from the shards (forward prefix range; reversed-term range
    for leading wildcards) and must produce the full-cache session's
    exact results for every kind — including the both-ends-open
    wildcard, which routes to the distributed expansion join."""
    d, st, post, dic = _build(spark)
    full = QuerySession(post, dic, st["n_docs"], st["avgdl"])
    shard = QuerySession(
        post, dic, st["n_docs"], st["avgdl"], vocab_cache_max=10
    )
    cases = [
        ("fuzzy", [(0, "w0000z"), (1, "w0001")]),
        ("prefix", [(0, "w00"), (1, "w012")]),
        ("wildcard", [(0, "w0?00*"), (1, "w*2")]),
        ("wildcard", [(0, "*002")]),     # leading: reversed-term shard
        ("wildcard", [(0, "*0 0 1*")]),  # both-open: distributed path
        ("regexp", [(0, "w00[0-9]+")]),
    ]
    for kind, q in cases:
        for lim in (0, 10**9):
            want = _canon(full.search_multiterm(q, kind=kind, k=10,
                                                driver_limit=lim))
            got = _canon(shard.search_multiterm(q, kind=kind, k=10,
                                                driver_limit=lim))
            pd.testing.assert_frame_equal(
                got, want, check_exact=False, atol=1e-9
            ), (kind, q)
    # the window fetches primed the LRU but never the whole vocab
    assert shard.terms._vocab_arr is None and shard.terms._rvocab_arr is None
    assert len(shard.terms._df_lru) < dic.count()
    full.close()
    shard.close()
    d.unpersist()


def test_sharded_lru_eviction_keeps_results_exact(spark):
    """A pathologically tiny LRU (5 entries) must still serve exact
    results — eviction costs a re-fetch, never correctness — and the
    LRU must never exceed its bound."""
    d, st, post, dic = _build(spark, n=500, seed=17)
    qset = make_pages_query_set(seed=17, n=6)
    qdf = query_terms_df(spark, qset)
    want = _canon(
        search_wand(post, dic, qdf, st["n_docs"], st["avgdl"], k=10)
    )
    sess = QuerySession(
        post, dic, st["n_docs"], st["avgdl"],
        vocab_cache_max=10, df_lru_max=5,
    )
    for _ in range(2):
        got = _canon(sess.search(qset, k=10))
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
        assert len(sess.terms._df_lru) <= 5
    sess.close()
    d.unpersist()


def test_sharded_phrase_and_query_string_match_full_cache(spark):
    """The positions-bearing serving paths (match_phrase and the full
    query_string mini-language, incl. phrase clauses) must be
    rank-identical between the full-cache and sharded-dictionary
    sessions — they consult the dictionary only through _df_for, so
    the LRU must be invisible to results."""
    from mario_spark.suite import _pos_index

    snap = _pos_index(spark, "/root/testdata/sf0.001")
    post, dic = snap.postings, snap.terms.table
    full = QuerySession(post, dic, snap.n_docs, snap.avgdl)
    shard = QuerySession(
        post, dic, snap.n_docs, snap.avgdl, vocab_cache_max=10
    )
    assert shard.terms._df_map is None
    phrases = [(0, "common crawl"), (1, "the web"), (2, "data set")]
    pd.testing.assert_frame_equal(
        _canon(shard.search_phrase(phrases, k=10)),
        _canon(full.search_phrase(phrases, k=10)),
        check_exact=False,
        atol=1e-9,
    )
    qs = [
        (0, '"common crawl" AND data'),
        (1, "web OR -crawl"),
        (2, "+data +set"),
    ]
    pd.testing.assert_frame_equal(
        _canon(shard.search_query_string(qs, k=10)),
        _canon(full.search_query_string(qs, k=10)),
        check_exact=False,
        atol=1e-9,
    )
    assert shard.terms._vocab_arr is None and len(shard.terms._df_lru) < dic.count()
    full.close()
    shard.close()


def test_session_context_releases_every_cached_frame(spark, tmp_path):
    """`with idx.open_session() as s:` unpersists every frame the
    session cached — the dbucket-partitioned postings, the TermStats
    shards and their reversed-term twin — so the persisted RDD ids
    after the block are a subset of those before it."""
    from mario_spark.index import Index

    idx = Index(spark, str(tmp_path / "idx"), "ctx")
    idx.ingest(pages_df(spark, 300, seed=19, partitions=4), segment_docs=128)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with idx.open_session(vocab_cache_max=10) as sess:
        assert sess.terms.table is not None  # sharded: shards cached
        sess.warm()
        qset = make_pages_query_set(seed=19, n=4)
        assert sess.search(qset, k=10, driver_limit=0).count() > 0
        sess.search_multiterm([(0, "*002")], kind="wildcard").collect()
        assert sess.terms._rtable is not None
        assert set(jsc.getPersistentRDDs().keys()) - before
    assert set(jsc.getPersistentRDDs().keys()) <= before
