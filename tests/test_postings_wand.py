"""Codec round-trip, posting-block invariants, and WAND rank-identity
vs the exhaustive scorer (SURVEY §5.2 layers 2, 3, 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mario_spark import codec, docs, query
from mario_spark.fixtures import (
    DOCUMENTS_QUERY_SET,
    documents_as_pages,
    make_pages_query_set,
    pages_df,
    query_terms_df,
)
from mario_spark.postings import BLOCK_SIZE, block_upper_bound, build_postings, idf
from mario_spark.wand import search_wand

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------- codec
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.vbyte_decode(codec.vbyte_encode(arr)), arr)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500, unique=True
    )
)
@settings(max_examples=200, deadline=None)
def test_docid_roundtrip(vals):
    arr = np.sort(np.array(vals, dtype=np.int64))
    assert np.array_equal(codec.decode_doc_ids(codec.encode_doc_ids(arr)), arr)


def test_vbyte_empty():
    assert codec.vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.vbyte_decode(b"").size == 0


def test_vbyte_compression_ratio():
    # small gaps should encode to ~1 byte each
    ids = np.arange(0, 10_000, 3, dtype=np.int64)
    assert len(codec.encode_doc_ids(ids)) < 1.2 * ids.size


# ---------------------------------------------------------- block structure
@pytest.fixture(scope="module")
def built(spark):
    d = docs.build_doc_table(documents_as_pages(spark, SF_DIR)).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, rw = build_postings(d, st_["n_docs"], range_width=256)
    pdf = post.toPandas()
    dic_pdf = dic.toPandas().set_index("term")["df"]
    return d, st_, pdf, rw, dic_pdf


def test_block_invariants(built):
    d, st_, pdf, rw, dic = built
    assert (pdf["n"] <= BLOCK_SIZE).all()
    assert (pdf["first_doc"] <= pdf["last_doc"]).all()
    assert (pdf["first_doc"] // rw == pdf["dbucket"]).all()
    assert (pdf["last_doc"] // rw == pdf["dbucket"]).all()
    # dictionary df equals total postings of the term
    got_df = pdf.groupby("term")["n"].sum()
    assert (dic.sort_index() == got_df.sort_index()).all()
    # decode one head term fully: doc ids strictly ascending per bucket
    term = dic.idxmax()
    sub = pdf[pdf["term"] == term].sort_values(["dbucket", "block_id"])
    for _, bgrp in sub.groupby("dbucket"):
        ids = np.concatenate([codec.decode_doc_ids(r) for r in bgrp["doc_ids"]])
        assert (np.diff(ids) > 0).all()


def test_block_max_is_upper_bound(built):
    d, st_, pdf, rw, dic = built
    n, avgdl = float(st_["n_docs"]), float(st_["avgdl"])
    for r in pdf.sample(n=min(200, len(pdf)), random_state=0).itertuples():
        tfs = codec.vbyte_decode(r.tfs).astype(float)
        lens = codec.vbyte_decode(r.lens).astype(float)
        t_idf = idf(n, float(dic[r.term]))
        sc = t_idf * tfs * 2.2 / (tfs + 1.2 * (1 - 0.75 + 0.75 * lens / avgdl))
        ub = block_upper_bound(t_idf, np.array([r.max_tf]), np.array([r.min_len]), avgdl)
        assert sc.max() <= ub[0] + 1e-9
        assert tfs.max() == r.max_tf
        assert lens.min() == r.min_len


def test_postings_match_tf_table(built):
    d, st_, pdf, rw, dic = built
    tf = query.term_frequencies(d).toPandas()
    want = tf.groupby("term")["tf"].count().sort_index()
    got = pdf.groupby("term")["n"].sum().sort_index()
    assert want.index.tolist() == got.index.tolist()
    assert (want.to_numpy() == got.to_numpy()).all()


# ------------------------------------------------------- WAND rank identity
def _canon(df):
    pdf = df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)
    return pdf


def test_wand_rank_identical_documents(spark, built):
    d, st_, _, rw, _dic = built
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=256)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    want = _canon(query.search_exhaustive(d, q, k=10))
    got = _canon(search_wand(post, dic, q, st_["n_docs"], st_["avgdl"], k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)


def test_wand_rank_identical_pages(spark):
    pages = pages_df(spark, 1200, seed=7, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, rw = build_postings(d, st_["n_docs"])
    q = query_terms_df(spark, make_pages_query_set(seed=7, n=30))
    want = _canon(query.search_exhaustive(d, q, k=10))
    got = _canon(search_wand(post, dic, q, st_["n_docs"], st_["avgdl"], k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_query_session_identical_to_cold_path(spark, built):
    """QuerySession (warm serving: dbucket-cached postings + driver
    dictionary) must return exactly what cold search_wand returns."""
    from mario_spark.wand import QuerySession

    d, st_, _, rw, _dic = built
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=256)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    want = _canon(search_wand(post, dic, q, st_["n_docs"], st_["avgdl"], k=10))
    sess = QuerySession(post, dic, st_["n_docs"], st_["avgdl"]).warm()
    # distributed path (driver fast path disabled)
    got = _canon(sess.search(DOCUMENTS_QUERY_SET, k=10, driver_limit=0))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    # coordinator fast path: force it on and require bit-identity
    drv = _canon(
        sess.search(DOCUMENTS_QUERY_SET, k=10, driver_limit=10**9)
    )
    pd.testing.assert_frame_equal(drv, want, check_exact=False, atol=1e-9)
    # single-query slices agree with the batch rows (default routing)
    one = _canon(sess.search([DOCUMENTS_QUERY_SET[4]], k=10))
    pd.testing.assert_frame_equal(
        one,
        want[want["query_id"] == 4].reset_index(drop=True),
        check_exact=False,
        atol=1e-9,
    )
    sess.close()


def test_wand_must_not_and_msm_session_identical(spark, built):
    """bool.must_not + minimum_should_match: warm QuerySession (both the
    distributed and the coordinator-driver path) must be bit-identical
    to cold search_wand, and excluded docs must actually be excluded."""
    from mario_spark.fixtures import DOCUMENTS_MUSTNOT_SET
    from mario_spark.wand import QuerySession

    d, st_, _, rw, _dic = built
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=256)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    nq = query_terms_df(spark, DOCUMENTS_MUSTNOT_SET)
    want = _canon(
        search_wand(
            post, dic, q, st_["n_docs"], st_["avgdl"], k=10,
            must_not_terms=nq, min_should_match=2,
        )
    )
    assert len(want) > 0
    # ground truth: no result doc contains an excluded term, and every
    # result doc matches >= 2 distinct query terms
    tf = query.term_frequencies(d)
    bad = {int(r["doc_id"]) for r in tf.filter(tf.term == "merge").collect()}
    assert not set(want["doc_id"].tolist()) & bad
    sess = QuerySession(post, dic, st_["n_docs"], st_["avgdl"]).warm()
    for lim in (0, 10**9):  # distributed path, then driver fast path
        got = _canon(
            sess.search(
                DOCUMENTS_QUERY_SET, k=10, driver_limit=lim,
                must_not=DOCUMENTS_MUSTNOT_SET, min_should_match=2,
            )
        )
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    sess.close()


def test_wand_conjunctive_rank_identical(spark):
    pages = pages_df(spark, 900, seed=13, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])
    q = query_terms_df(spark, make_pages_query_set(seed=13, n=30))
    want = _canon(query.search_exhaustive(d, q, k=10, conjunctive=True))
    got = _canon(
        search_wand(
            post, dic, q, st_["n_docs"], st_["avgdl"], k=10, conjunctive=True
        )
    )
    assert len(want) > 0  # multi-term AND queries do match something
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_query_session_phrase_identical_to_cold_path(spark):
    """Warm phrase serving (QuerySession.search_phrase over the cached
    positional postings + driver dictionary) must equal cold
    phrase.search_phrase on the same index, at slop 0 and 2."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET, documents_as_pages
    from mario_spark.postings import dictionary_from_postings, encode_tf_rows
    from mario_spark.wand import QuerySession, Snapshot, TermStats

    tfpos = ph.positional_tf(documents_as_pages(spark, SF_DIR))
    st_ = docs.corpus_stats(
        tfpos.select("doc_id", "len").distinct()
    ).collect()[0]
    post = encode_tf_rows(tfpos, 256)
    dic = dictionary_from_postings(post)
    cold_q = [(qid, py_tokenize(t)) for qid, t in DOCUMENTS_PHRASE_SET]
    sess = QuerySession(post, dic, st_["n_docs"], st_["avgdl"]).warm()
    cold = Snapshot(post, TermStats(lambda: dic), st_["n_docs"], st_["avgdl"])
    for slop in (0, 2):
        want = _canon(ph.search_phrase(cold, cold_q, k=10, slop=slop))
        got = _canon(sess.search_phrase(DOCUMENTS_PHRASE_SET, k=10, slop=slop))
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    sess.close()

def _kernel_fixture(spark, seed):
    """Single-bucket corpus + driver-side pdf/idf_map for direct
    _bucket_kernel calls (monkeypatching can't reach Spark workers,
    so pruning is asserted on the kernel run in-process)."""
    pages = pages_df(spark, 3000, seed=seed, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    # one bucket = whole corpus -> head terms span many 128-doc blocks
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=1 << 20)
    pdf = post.toPandas()
    dic_pdf = dic.toPandas()
    idf_map = {
        r.term: idf(float(st_["n_docs"]), float(r.df))
        for r in dic_pdf.itertuples()
    }
    return d, st_, post, dic, pdf, dic_pdf, idf_map


def _kernel_canon(kout, k):
    out = kout.copy()
    out["score"] = out["score"].round(4)
    out = out.sort_values(
        ["query_id", "score", "doc_id"], ascending=[True, False, True]
    ).groupby("query_id").head(k)
    out["rank"] = out.groupby("query_id").cumcount() + 1
    return out[["query_id", "rank", "doc_id", "score"]].reset_index(
        drop=True
    )


def test_wand_msm_theta_prunes_blocks(spark, monkeypatch):
    """minimum_should_match > 1 must KEEP block-max pruning: the
    pigeonhole θ bootstrap (decode the n-msm+1 rarest terms, take the
    k-th best partial among docs already matching >= msm within that
    subset) prunes blocks AND stays rank-identical to the exhaustive
    terms_set scorer. Corpus: 200 short docs strong in aaa+bbb, 200
    long docs weak in aaa, 400 ccc-only — the weak aaa blocks must be pruned by the
    θ bootstrapped from the strong aaa∩bbb partials."""
    import mario_spark.wand as wand
    from mario_spark.query import search_terms_set

    rows = (
        [(i, "aaa bbb " * 6 + "ccc") for i in range(200)]
        + [(i, "aaa " + "filler " * 50 + "ccc") for i in range(200, 400)]
        + [(i, "filler " * 50 + "ccc") for i in range(400, 800)]
    )
    d = docs.build_doc_table(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=1 << 20)
    pdf = post.toPandas()
    idf_map = {
        r.term: idf(float(st_["n_docs"]), float(r.df))
        for r in dic.toPandas().itertuples()
    }

    pruned = {"n": 0, "seen": 0}
    orig = wand._TermData.gather

    def spy(self, live):
        pruned["n"] += int(live.size - live.sum())
        pruned["seen"] += int(live.size)
        return orig(self, live)

    monkeypatch.setattr(wand._TermData, "gather", spy)
    kout = wand._bucket_kernel(
        pdf, [(0, ["aaa", "bbb", "ccc"])], idf_map, float(st_["avgdl"]),
        10, msm=2,
    )
    assert pruned["seen"] > 0
    assert pruned["n"] > 0, f"msm=2 pruned no blocks ({pruned})"
    got = _kernel_canon(kout, 10)
    want = _canon(search_terms_set(d, [(0, ["aaa", "bbb", "ccc"], 2)], k=10))
    assert len(want) == 10
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_wand_conjunctive_range_prunes_decode(spark, monkeypatch):
    """AND queries must NOT decode later terms fully: after the
    rarest-first intersection, a later term's block is decoded only if
    its stored (first_doc, last_doc) span intersects a surviving
    candidate — so the decode count stays below the query terms' total
    block count, and results stay rank-identical to exhaustive AND."""
    import mario_spark.wand as wand

    d, st_, post, dic, pdf, dic_pdf, idf_map = _kernel_fixture(spark, 9)
    common = dic_pdf.sort_values(["df", "term"], ascending=[False, True])
    rare = dic_pdf[(dic_pdf["df"] >= 3) & (dic_pdf["df"] <= 8)].sort_values(
        "term"
    )
    t_common, t_rare = common["term"].iloc[0], rare["term"].iloc[0]

    decoded = {"n": 0}
    orig = wand._TermData._block

    def spy(self, i):
        if i not in self._blocks and self._full is None:
            decoded["n"] += 1
        return orig(self, i)

    monkeypatch.setattr(wand._TermData, "_block", spy)
    kout = wand._bucket_kernel(
        pdf, [(0, [t_rare, t_common])], idf_map, float(st_["avgdl"]),
        10, conjunctive=True,
    )
    total_blocks = int(pdf[pdf["term"].isin([t_rare, t_common])].shape[0])
    assert decoded["n"] < total_blocks, (
        f"decoded {decoded['n']} of {total_blocks} blocks — range "
        "pruning did nothing"
    )
    got = _kernel_canon(kout, 10)
    q = query_terms_df(spark, [(0, f"{t_rare} {t_common}")])
    want = _canon(query.search_exhaustive(d, q, k=10, conjunctive=True))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_wand_cross_fields_groups_prune_blocks(spark, monkeypatch):
    """Dis-max term groups (cross_fields blending / BlendedTermQuery)
    must KEEP block-max pruning: θ bootstrapped from the rarest GROUP's
    max-partials prunes the weak blocks of its members, and the result
    is identical to a brute full-decode dis-max reference. Corpus: 200
    short docs strong in aaa+bbb (one group), 200 long docs weak in
    aaa, 400 long ddd docs (the other group) — the weak aaa blocks
    must be pruned under the group bound block_max + Σ other-group
    ubs."""
    import mario_spark.wand as wand

    rows = (
        [(i, "aaa bbb " * 6) for i in range(200)]
        + [(i, "aaa " + "filler " * 50) for i in range(200, 400)]
        + [(i, "ddd " + "filler " * 50) for i in range(400, 800)]
    )
    d = docs.build_doc_table(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"], range_width=1 << 20)
    pdf = post.toPandas()
    idf_map = {
        r.term: idf(float(st_["n_docs"]), float(r.df))
        for r in dic.toPandas().itertuples()
    }

    pruned = {"n": 0, "seen": 0}
    orig = wand._TermData.gather

    def spy(self, live):
        pruned["n"] += int(live.size - live.sum())
        pruned["seen"] += int(live.size)
        return orig(self, live)

    monkeypatch.setattr(wand._TermData, "gather", spy)
    groups = {0: [["aaa", "bbb"], ["ddd"]]}
    kout = wand._bucket_kernel(
        pdf, [(0, ["aaa", "bbb", "ddd"])], idf_map, float(st_["avgdl"]),
        10, groups=groups,
    )
    assert pruned["seen"] > 0
    assert pruned["n"] > 0, f"grouped WAND pruned no blocks ({pruned})"

    # brute reference: full decode, per-group dis-max, sum over groups
    tds = {
        t: wand._TermData(
            g.sort_values("block_id"), idf_map[t], float(st_["avgdl"])
        )
        for t, g in pdf.groupby("term")
    }
    from collections import defaultdict

    score = defaultdict(float)
    for g in groups[0]:
        gm = {}
        for t in g:
            ids, c = tds[t].full()
            for i, cc in zip(ids.tolist(), c.tolist()):
                gm[i] = max(gm.get(i, float("-inf")), cc)
        for i, v in gm.items():
            score[i] += v
    r4 = lambda x: float(np.floor(x * 1e4 + 0.5) / 1e4)
    best = sorted(score.items(), key=lambda kv: (-r4(kv[1]), kv[0]))[:10]
    got = _kernel_canon(kout, 10)
    assert got["doc_id"].tolist() == [i for i, _ in best]
    np.testing.assert_allclose(
        got["score"].to_numpy(), [r4(v) for _, v in best], atol=1e-9
    )
    # conjunctive + groups is undefined: must refuse, not mis-score
    import pytest

    with pytest.raises(ValueError, match="dis-max"):
        wand._bucket_kernel(
            pdf, [(0, ["aaa", "bbb", "ddd"])], idf_map,
            float(st_["avgdl"]), 10, conjunctive=True,
            groups=groups,
        )
    d.unpersist()
