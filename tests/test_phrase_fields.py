"""Positional postings, phrase queries, and field-scoped search
(round-2 capabilities: SURVEY §2.2 B1/B7 extensions)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from mario_spark import codec
from mario_spark.postings import _encode_groups, decode_block_positions

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------- positions stream codec
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=4000),
            min_size=1,
            max_size=20,
            unique=True,
        ),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(rows):
    """Encode N docs' position lists through the block encoder, decode
    every block back, and require exact recovery."""
    rows = [sorted(r) for r in rows]
    n = len(rows)
    ids = np.arange(n, dtype=np.int64)
    tfs = np.array([len(r) for r in rows], dtype=np.float64)
    lens = np.full(n, 50, dtype=np.int64)
    pos_flat = np.array([p for r in rows for p in r], dtype=np.int64)
    out = _encode_groups(
        np.array(["t"]),
        np.array([0]),
        np.array([n]),
        ids,
        tfs,
        lens,
        pos_flat,
    )
    got_rows = []
    for r in out.sort_values("block_id").itertuples(index=False):
        btfs = codec.vbyte_decode(r.tfs).astype(np.int64)
        flat, starts = decode_block_positions(r.poss, btfs)
        for i in range(len(btfs)):
            got_rows.append(flat[starts[i] : starts[i + 1]].tolist())
    assert got_rows == rows


# ------------------------------------------------------ phrase semantics
def _phrase_results(spark, texts, phrase, k=10):
    from mario_spark import docs as docsmod
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.postings import dictionary_from_postings, encode_tf_rows
    from mario_spark.wand import Snapshot, TermStats

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tfpos = ph.positional_tf(d)
    st_ = docsmod.corpus_stats(
        tfpos.select("doc_id", "len").distinct()
    ).collect()[0]
    post = encode_tf_rows(tfpos, 256)
    dic = dictionary_from_postings(post)
    snap = Snapshot(post, TermStats(lambda: dic), st_["n_docs"], st_["avgdl"])
    out = ph.search_phrase(snap, [(0, py_tokenize(phrase))], k=k)
    return out.toPandas().sort_values("rank", ignore_index=True)


def test_phrase_exact_adjacency(spark):
    texts = [
        "big data table scan",     # 0: has "data table"
        "data big table scan",     # 1: both words, NOT adjacent
        "table data big scan",     # 2: reversed order — no match
        "x data table data table", # 3: phrase twice (higher tf)
        "no relevant words here",  # 4
    ]
    got = _phrase_results(spark, texts, "data table")
    assert set(got["doc_id"]) == {0, 3}
    # doc 3 has phrase_tf 2 > doc 0's 1 and similar length: ranks first
    assert got.iloc[0]["doc_id"] == 3


def test_phrase_single_term_equals_tf_scoring(spark):
    texts = ["a b a", "a a a a", "b b"]
    got = _phrase_results(spark, texts, "a")
    assert set(got["doc_id"]) == {0, 1}
    assert got.iloc[0]["doc_id"] == 1  # higher tf wins


def test_phrase_trigram_and_oov(spark):
    texts = ["one two three four", "one two x three"]
    got = _phrase_results(spark, texts, "one two three")
    assert got["doc_id"].tolist() == [0]
    got2 = _phrase_results(spark, texts, "zzzmissing two")
    assert len(got2) == 0


# ------------------------------------------------------ field-scoped BM25
def test_field_scoped_stats_differ_from_global(spark):
    """title-scoped search must use the title field's own df/avgdl —
    a term frequent in contents but absent from titles scores nothing."""
    from pyspark.sql import functions as F

    from mario_spark import fields as fieldsmod
    from mario_spark.wand import Snapshot, TermStats

    rows = [
        (0, "alpha beta", "alpha beta gamma delta common common common"),
        (1, "gamma delta", "gamma delta common common alpha"),
        (2, "common words", "totally different text body"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, title string, body string")
    fdocs = fieldsmod.build_field_doc_table(
        d, {"title": F.col("title"), "contents": F.col("body")}
    ).persist()
    stats = {r["field"]: r for r in fieldsmod.field_stats(fdocs).collect()}
    post, dic, _ = fieldsmod.build_field_postings(fdocs, 3, range_width=256)
    fsnap = Snapshot(
        post, TermStats(lambda: dic), 3, 1.0,
        field_stats={f: (r["n_docs"], r["avgdl"]) for f, r in stats.items()},
    )
    q = [(0, "alpha")]
    title_hits = fsnap.search(q, field="title").toPandas()
    body_hits = fsnap.search(q, field="contents").toPandas()
    # 'alpha' is in title of doc 0 only, but in contents of docs 0 and 1
    assert title_hits["doc_id"].tolist() == [0]
    assert set(body_hits["doc_id"]) == {0, 1}
    # per-field dictionary: prefixed terms carry per-field df
    dic_pdf = dic.toPandas().set_index("term")["df"]
    assert dic_pdf["title:alpha"] == 1
    assert dic_pdf["contents:alpha"] == 2

    # warm serving composes with field scoping: QuerySession(field=...)
    # must match the cold frame Snapshot's rows on both routes
    from mario_spark.wand import QuerySession

    sess = QuerySession(
        post, dic, 3, 1.0,
        field_stats={
            f: (stats[f]["n_docs"], stats[f]["avgdl"])
            for f in ("title", "contents")
        },
    ).warm()
    for limit in (0, 10**9):  # distributed and coordinator paths
        got = (
            sess.search([(0, "alpha")], field="title", driver_limit=limit)
            .toPandas()
            .sort_values("rank", ignore_index=True)
        )
        pd.testing.assert_frame_equal(
            got,
            title_hits.sort_values("rank", ignore_index=True),
            check_exact=False,
            atol=1e-9,
        )
    sess.close()


def test_field_index_with_positions_phrase(spark, tmp_path):
    """fields=... composed with positions=True: field-scoped
    match_phrase runs against THAT field's position stream (per-field
    ordinals, so phrases never span fields) and scores with the field's
    stats — rank/score-identical to a plain positional index built over
    just that field's text with the same pinned doc ids and the field's
    (n_docs, avgdl) supplied."""
    import pytest
    from pyspark.sql import functions as F

    from mario_spark import fields as fieldsmod
    from mario_spark import phrase as phrasemod
    from mario_spark.analyze import py_tokenize
    from mario_spark.docs import build_doc_table
    from mario_spark.fixtures import pages_df
    from mario_spark.index import Catalog
    from mario_spark.postings import build_postings
    from mario_spark.wand import Snapshot, TermStats

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 300, seed=11, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    idx = cat.create("fp-2026-01-01t00-00-00z")
    idx.ingest(
        pages, segment_docs=128, positions=True,
        fields={"title": "title", "contents": "text"},
    )

    # pick a phrase guaranteed to occur in some title: the first two
    # tokens of the longest title in the fixture
    titles = [
        r["title"] for r in pages.select("title").collect() if r["title"]
    ]
    toks = max(
        (py_tokenize(t) for t in titles), key=lambda ts: (len(ts) >= 2, ts)
    )
    phrase = " ".join(toks[:2])

    # oracle: plain positional index over ONLY the title text, same doc
    # ids (urls are unique, ids are a pure function of url order), the
    # FIELD's stats supplied explicitly
    d_title = build_doc_table(
        pages.withColumn("text", F.col("title")), positions=True
    ).persist()
    fst = idx.field_stats()["title"]
    post, dic, _ = build_postings(d_title, 300)
    title_snap = Snapshot(
        post, TermStats(lambda: dic), fst["n_docs"], fst["avgdl"]
    )
    want = (
        phrasemod.search_phrase(title_snap, [(0, py_tokenize(phrase))], k=10)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert len(want) > 0
    got = (
        idx.search_phrase([(0, phrase)], k=10, field="title")
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d_title.unpersist()

    # the same phrase against contents generally matches MORE docs
    # (every title is a prefix of its contents)
    got_c = idx.search_phrase([(0, phrase)], k=300, field="contents")
    assert got_c.count() >= len(got)

    # BM25/WAND field search is unaffected by the poss stream
    one = idx.search_field("title", [(0, phrase)], k=5)
    assert one.count() > 0

    # guard rails
    with pytest.raises(ValueError, match="field-scoped"):
        idx.search_phrase([(0, phrase)])
    with pytest.raises(ValueError, match="unknown field"):
        idx.search_phrase([(0, phrase)], field="nope")
    with pytest.raises(ValueError, match="field-scoped"):
        idx.search_query_string([(0, phrase)])

    # compaction round-trips the per-field position streams
    from mario_spark.merge import compact_segments

    compact_segments(idx)
    assert idx.stats()["segments"] == 1
    after = (
        idx.search_phrase([(0, phrase)], k=10, field="title")
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(after, want, check_exact=False, atol=1e-9)


def test_intervals_ordered_max_gaps_semantics(spark):
    """ordered + max_gaps: t2 must FOLLOW t1 within g intervening
    tokens; reversed order or wide gaps don't match; anchor count is
    the number of valid t1 positions."""
    from mario_spark import phrase as ph
    from mario_spark.docs import build_doc_table

    pages = spark.createDataFrame(
        [
            (0, "hash join"),                  # gap 0
            (1, "hash a b join"),              # gap 2
            (2, "hash a b c join"),            # gap 3 (> 2)
            (3, "join hash"),                  # wrong order
            (4, "hash join hash x join"),      # anchors: both hash positions
        ],
        "doc_id long, text string",
    )
    d = build_doc_table(pages, positions=True)
    out = ph.search_intervals_match(d, [(0, "hash", "join", 2)], k=10)
    got = {r["doc_id"]: r["matches"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 4: 2}


def test_span_containing_within_semantics(spark):
    """containing counts surviving BIG spans; within counts covered
    LITTLE occurrences — verified on a hand-built doc."""
    from mario_spark import docs as docsmod
    from mario_spark import phrase as ph
    from mario_spark.postings import (
        dictionary_from_postings, encode_tf_rows,
    )
    from mario_spark.wand import Snapshot, TermStats

    # doc 0: spans of (a .. b, g=2): [1,3] and [5,6]; 'x' at 2 (inside
    # span 1) and at 8 (outside). doc 1: a..b too far apart (gap 3).
    pages = spark.createDataFrame(
        [
            (0, "a x b q a b w x"),
            (1, "a q q q b x"),
        ],
        "doc_id long, text string",
    )
    tfpos = ph.positional_tf(pages)
    st = docsmod.corpus_stats(
        tfpos.select("doc_id", "len").distinct()
    ).collect()[0]
    post = encode_tf_rows(tfpos, 1024)
    dic = dictionary_from_postings(post)
    snap = Snapshot(post, TermStats(lambda: dic), st["n_docs"], st["avgdl"])
    qs = [(0, "a", "b", 2, "x")]
    cont = ph.search_span_contain(snap, qs, mode="containing").collect()
    assert [(r["doc_id"]) for r in cont] == [0]  # only doc 0, 1 span
    wth = ph.search_span_contain(snap, qs, mode="within").collect()
    assert [(r["doc_id"]) for r in wth] == [0]  # x@2 covered, x@8 not


# -------------------------------------------- index_phrases shingle path
def test_shingle_matches_equal_positional_matches(spark):
    """ES documents index_phrases as same-match-set, different-scores vs
    positional match_phrase (scoring moves to the shingle field's own
    stats). Assert exactly that on a corpus with adjacency traps."""
    from mario_spark import phrase as ph

    texts = [
        "big data table scan",      # has "data table"
        "data big table scan",      # both words, not adjacent
        "table data big scan",      # reversed order
        "x data table data table",  # phrase twice
        "solo",                     # single-token doc: no shingles
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = (
        ph.search_phrase_shingle(d, [(0, "data table")], k=10)
        .toPandas()
        .sort_values("rank", ignore_index=True)
    )
    pos = _phrase_results(spark, texts, "data table")
    assert set(got["doc_id"]) == set(pos["doc_id"]) == {0, 3}
    # phrase_tf 2 at comparable length still ranks first on the shingle path
    assert got.iloc[0]["doc_id"] == 3


def test_shingle_field_stats_exclude_short_docs(spark):
    """Docs with < 2 tokens have no terms in the shingle sub-field and
    must not count toward its docCount/avgFieldLength (Lucene per-field
    norms)."""
    from mario_spark import phrase as ph

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    tf = ph.shingle_tf(d).toPandas()
    assert set(tf["doc_id"]) == {0, 1}
    # doc 0: shingles "a b","b c" -> len 2; doc 1: "a b" -> len 1
    assert sorted(tf[tf.doc_id == 0]["term"]) == ["a b", "b c"]
    assert tf[tf.doc_id == 0]["len"].iloc[0] == 2.0
    assert tf[tf.doc_id == 1]["len"].iloc[0] == 1.0
