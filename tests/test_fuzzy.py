"""Fuzzy query tests: expansion correctness, identity with the
exhaustive scorer over the same expansion, and the broadcast plan."""

from __future__ import annotations

import pandas as pd

from mario_spark import docs, query
from mario_spark.fixtures import pages_df
from mario_spark.fuzzy import expand, expand_terms
from mario_spark.postings import build_postings
from mario_spark.wand import Snapshot, TermStats


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def _exhaustive_over_expansion(d, dic, kind, qdf, k=10, **kw):
    """The independent reference of a multi-term search: the exhaustive
    BM25 scorer over the Spark expansion join's distinct
    (query_id, term) rows."""
    exp = expand(kind, dic, qdf, **kw).select("query_id", "term").distinct()
    return _canon(query.search_exhaustive(d, exp, k=k))


def test_fuzzy_expansion_and_identity(spark):
    """'w0000z' must fan out to every w0000[0-9] term present in the
    corpus (multi-expansion), and Snapshot.search_multiterm must equal
    the exhaustive scorer run over the SAME expanded disjunction."""
    pages = pages_df(spark, 1000, seed=7, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])

    q = spark.createDataFrame(
        [(0, "w0000z"), (1, "qqqxyz")], "query_id long, term string"
    )
    exp = expand_terms(dic, q, max_edits=1, prefix_length=1)
    rows = exp.collect()
    exp0 = sorted(r["term"] for r in rows if r["query_id"] == 0)
    assert len(exp0) > 1, f"expected multi-term expansion, got {exp0}"
    assert all(t.startswith("w0000") for t in exp0)
    assert not [r for r in rows if r["query_id"] == 1]  # OOV: no expansion

    snap = Snapshot(post, TermStats(lambda: dic), st_["n_docs"], st_["avgdl"])
    got = _canon(
        snap.search_multiterm(
            [(0, "w0000z"), (1, "qqqxyz")], "fuzzy", k=10,
            max_edits=1, prefix_length=1,
        )
    )
    # ground truth: exhaustive disjunctive BM25 over the expanded terms
    want = _exhaustive_over_expansion(d, dic, "fuzzy", q)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_prefix_and_wildcard_expansion(spark):
    """Prefix expansion is the LIKE-prefix term walk; wildcard * / ?
    translate to % / _ and must match the WHOLE term."""
    from mario_spark.fuzzy import expand_prefix, expand_wildcard

    pages = pages_df(spark, 300, seed=7, partitions=4)
    d = docs.build_doc_table(pages)
    st_ = docs.corpus_stats(d).collect()[0]
    _, dic, _ = build_postings(d, st_["n_docs"])

    q = spark.createDataFrame([(0, "w0000")], "query_id long, term string")
    got = sorted(r["term"] for r in expand_prefix(dic, q).collect())
    want = sorted(
        r["term"]
        for r in dic.collect()
        if r["term"].startswith("w0000")
    )
    assert got == want and len(got) > 1

    q = spark.createDataFrame(
        [(0, "w?001*"), (1, "w0000z*zz")], "query_id long, term string"
    )
    rows = expand_wildcard(dic, q).collect()
    got = sorted(r["term"] for r in rows if r["query_id"] == 0)
    import re

    want = sorted(
        r["term"]
        for r in dic.collect()
        if re.fullmatch(r"w.001.*", r["term"])
    )
    assert got == want and len(got) > 1
    assert not [r for r in rows if r["query_id"] == 1]  # whole-term match


def test_query_session_multiterm_identical_to_cold(spark):
    """Warm QuerySession multi-term serving (driver-side vocabulary
    expansion, both routing paths) must equal the exhaustive scorer
    over the Spark expansion join, for fuzzy, prefix and wildcard."""
    from mario_spark.fuzzy import levenshtein_le
    from mario_spark.wand import QuerySession

    # python DP must equal classic Levenshtein (spot checks incl. a
    # transposition, which costs 2 — NOT Damerau)
    assert levenshtein_le("join", "joim", 1)
    assert not levenshtein_le("join", "jion", 1)  # transposition = 2
    assert levenshtein_le("join", "jion", 2)

    pages = pages_df(spark, 800, seed=11, partitions=8)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])
    q = [(0, "w0000z"), (1, "w0001")]
    wq = {
        "fuzzy": q, "prefix": q, "wildcard": [(0, "w0?00*"), (1, "w*2")],
    }
    sess = QuerySession(post, dic, st_["n_docs"], st_["avgdl"])
    for kind in wq:
        qdf = spark.createDataFrame(wq[kind], "query_id long, term string")
        want = _exhaustive_over_expansion(d, dic, kind, qdf)
        assert len(want) > 0, kind
        for lim in (0, 10**9):
            got = _canon(
                sess.search_multiterm(wq[kind], kind=kind, k=10, driver_limit=lim)
            )
            pd.testing.assert_frame_equal(
                got, want, check_exact=False, atol=1e-9
            )
    sess.close()
    d.unpersist()


def test_fuzzy_expansion_broadcasts_query_side(spark):
    """The dictionary pass must plan as a broadcast hash join on the
    prefix key — never a shuffled or nested-loop join over the vocab."""
    pages = pages_df(spark, 300, seed=7, partitions=4)
    d = docs.build_doc_table(pages)
    st_ = docs.corpus_stats(d).collect()[0]
    _, dic, _ = build_postings(d, st_["n_docs"])
    q = spark.createDataFrame([(0, "w0000z")], "query_id long, term string")
    plan = (
        expand_terms(dic, q, max_edits=1, prefix_length=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_query_session_filter_terms_identical_to_cold(spark):
    """QuerySession filter context (filtered alias) must be
    bit-identical to search_wand(filter_terms=...) on BOTH routing
    paths (driver fast path and distributed), and a subset of the
    unfiltered results' doc space restricted to docs holding a filter
    term."""
    from mario_spark.fixtures import make_pages_query_set, query_terms_df
    from mario_spark.wand import QuerySession, search_wand

    pages = pages_df(spark, 600, seed=13, partitions=4)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])
    qset = make_pages_query_set(seed=13, n=6)
    qdf = query_terms_df(spark, qset)

    want = _canon(
        search_wand(
            post, dic, qdf, st_["n_docs"], st_["avgdl"], k=10,
            filter_terms=["crawl"],
        )
    )
    assert len(want) > 0
    sess = QuerySession(post, dic, st_["n_docs"], st_["avgdl"])
    for lim in (0, 10**9):
        got = _canon(
            sess.search(qset, k=10, driver_limit=lim, filter_terms=["Crawl"])
        )
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()


def test_filter_and_must_not_compose(spark):
    """filter_terms (global allow) and must_not (per-query exclude)
    applied TOGETHER on the WAND path must equal the exhaustive ranking
    restricted to allowed-minus-excluded docs."""
    from mario_spark.fixtures import make_pages_query_set, query_terms_df
    from mario_spark.wand import search_wand

    pages = pages_df(spark, 500, seed=17, partitions=4)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])
    qset = make_pages_query_set(seed=17, n=5)
    qdf = query_terms_df(spark, qset)

    import pyspark.sql.functions as F

    tf = query.term_frequencies(d)
    doc_sets = {
        t: {r["doc_id"] for r in tf.filter(F.col("term") == t)
            .select("doc_id").distinct().collect()}
        for t in ("crawl", "web")
    }
    nmap = spark.createDataFrame(
        [(qid, "web") for qid, _ in qset], "query_id long, term string"
    )

    full = (
        query.search_exhaustive(d, qdf, k=500)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    keep = full["doc_id"].isin(doc_sets["crawl"]) & ~full["doc_id"].isin(
        doc_sets["web"]
    )
    exp = full[keep].copy()
    exp["rank"] = exp.groupby("query_id").cumcount() + 1
    exp = exp[exp["rank"] <= 10].reset_index(drop=True)

    got = (
        search_wand(
            post, dic, qdf, st_["n_docs"], st_["avgdl"], k=10,
            must_not_terms=nmap, filter_terms=["crawl"],
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got, exp[["query_id", "rank", "doc_id", "score"]].astype(got.dtypes),
        check_exact=False, atol=1e-9,
    )
    d.unpersist()


def test_warm_expansion_scans_only_prefix_window(spark, monkeypatch):
    """The warm-path multi-term expansion must walk a bisect prefix
    WINDOW of the sorted vocabulary, not the whole dictionary: on a
    100k-term vocab, a fuzzy query with prefix_length=2 may invoke the
    Levenshtein check only for terms sharing the 2-char prefix, and
    prefix/wildcard/regexp expansions return the identical hits the
    full scan would."""
    import re

    import mario_spark.fuzzy as fuzzymod
    import mario_spark.wand as wand

    # synthetic 10x vocabulary: 100k terms over many prefixes
    vocab = {f"w{i:05d}": i % 97 + 1 for i in range(100_000)}
    vocab.update({"join": 3, "joim": 2, "joint": 4, "zeta": 5})

    terms = wand.TermStats(df_map=vocab)

    calls = {"n": 0}
    orig = fuzzymod.levenshtein_le

    def spy(a, b, m):
        calls["n"] += 1
        return orig(a, b, m)

    monkeypatch.setattr(fuzzymod, "levenshtein_le", spy)
    got = terms._expand(
        [(0, "joim")], "fuzzy", max_edits=1, prefix_length=2
    )
    window = [t for t in vocab if t[:2] == "jo"]
    assert calls["n"] <= len(window) < 100  # not the 100k vocab
    assert sorted(got[0]) == ["joim", "join"]

    # prefix: identical to the full-scan answer
    got = terms._expand([(1, "w0042")], "prefix", 1, 1)
    assert sorted(got[1]) == sorted(
        t for t in vocab if t.startswith("w0042")
    )

    # wildcard with literal head: windowed, same hits as full scan
    got = terms._expand([(2, "w999?7")], "wildcard", 1, 1)
    pat = re.compile(r"w999.7")
    assert sorted(got[2]) == sorted(t for t in vocab if pat.fullmatch(t))

    # leading wildcard: windowed over the REVERSED-term array (Lucene's
    # reverse-field trick) — the candidate scan must be suffix-window
    # sized, nowhere near the 100k vocab
    scans = {}
    orig_sw = wand.TermStats._suffix_window

    def spy_sw(self, sfx):
        out = orig_sw(self, sfx)
        scans[sfx] = len(out)
        return out

    monkeypatch.setattr(wand.TermStats, "_suffix_window", spy_sw)
    got = terms._expand([(3, "*eta")], "wildcard", 1, 1)
    assert got[3] == ["zeta"]
    assert scans == {"eta": 1}  # one candidate scanned, not 100k

    # mixed-literal wildcard picks the LONGER literal run as its window:
    # head 'w' (1 char) loses to tail '042' (3 chars) over reversed terms
    got = terms._expand([(5, "w*042")], "wildcard", 1, 1)
    import re as _re2

    pat = _re2.compile(r"w.*042")
    assert sorted(got[5]) == sorted(t for t in vocab if pat.fullmatch(t))
    assert scans["042"] == sum(t.endswith("042") for t in vocab) < 2000

    # regexp: literal prefix extracted, quantified char excluded
    got = terms._expand([(4, "joi?nt?")], "regexp", 1, 1)
    assert sorted(got[4]) == ["join", "joint"]
    assert wand._regex_literal_prefix("joi?nt?") == "jo"
    assert wand._regex_literal_prefix("ab|cd") == ""
    assert wand._regex_literal_prefix("w00.2") == "w00"

    # a regexp outside Python's re syntax fails the same way whether it
    # would walk a window (literal prefix) or take the deferred join
    import pytest

    for pat in (r"w\p{Alpha}+", r"\p{Alpha}+"):
        with pytest.raises(ValueError, match="unsupported regexp"):
            terms._expand([(6, pat)], "regexp", 1, 1)
        with pytest.raises(ValueError, match="unsupported regexp"):
            wand.TermStats(lambda: None)._expand([(6, pat)], "regexp", 1, 1)


def test_multiterm_scores_each_expanded_term_once(spark, tmp_path):
    """Two patterns of one query that expand to the same term score it
    ONCE: the expansion is deduped per query, as the oracle's SELECT
    DISTINCT does. "joim" and "join" both reach "join"; a cold
    Index.search_multiterm, a session and the suite's snapshot each
    equal the exhaustive scorer over the distinct expansion."""
    from mario_spark import suite
    from mario_spark.fixtures import documents_as_pages
    from mario_spark.index import Index

    sf = "/root/testdata/sf0.001"
    q = [(0, "joim"), (0, "join"), (1, "hash"), (1, "hasj"), (2, "merge")]
    qdf = spark.createDataFrame(q, "query_id long, term string")
    d = suite._doc_table(spark, sf)
    dfreq = query.doc_frequencies(query.term_frequencies(d))
    exp0 = [
        r["term"] for r in expand("fuzzy", dfreq, qdf).collect()
        if r["query_id"] == 0
    ]
    assert exp0.count("join") == 1  # reached by both patterns, kept once
    want = _exhaustive_over_expansion(d, dfreq, "fuzzy", qdf)
    assert set(want["query_id"]) == {0, 1, 2}

    idx = Index(spark, str(tmp_path / "idx"), "dedupe")
    idx.ingest(documents_as_pages(spark, sf), segment_docs=256)
    with idx.open_session() as sess:
        for name, search in {
            "cold": idx.search_multiterm,
            "session": sess.search_multiterm,
            "suite": suite._wand_index(spark, sf).search_multiterm,
        }.items():
            got = _canon(search(q, "fuzzy", k=10))
            pd.testing.assert_frame_equal(
                got, want, check_exact=False, atol=1e-9, obj=name
            )


def test_transpositions_agree_across_walk_and_join(spark):
    """transpositions=True (OSA distance <= 1) reaches the adjacent
    swaps classic fuzzy misses, and expands the same terms in the held
    vocabulary walk (fuzzy.is_transposition) and in the deferred Spark
    join (prefix_length=0 gives a lookup-shaped snapshot no window):
    both equal the exhaustive scorer over the join's expansion."""
    from mario_spark.fuzzy import is_transposition
    from mario_spark.wand import QuerySession

    assert is_transposition("tabel", "table")
    assert not is_transposition("table", "table")
    assert not is_transposition("abcd", "badc")  # two swaps

    pages = pages_df(spark, 600, seed=11, partitions=4)
    d = docs.build_doc_table(pages).persist()
    st_ = docs.corpus_stats(d).collect()[0]
    post, dic, _ = build_postings(d, st_["n_docs"])
    q = [(0, "w00102"), (1, "w00013")]
    qdf = spark.createDataFrame(q, "query_id long, term string")
    swapped = expand(
        "fuzzy", dic, qdf, prefix_length=0, transpositions=True
    ).count()
    assert swapped > expand("fuzzy", dic, qdf, prefix_length=0).count()
    want = _exhaustive_over_expansion(
        d, dic, "fuzzy", qdf, prefix_length=0, transpositions=True
    )
    assert len(want) > 0
    frame = Snapshot(post, TermStats(lambda: dic), st_["n_docs"], st_["avgdl"])
    with QuerySession(post, dic, st_["n_docs"], st_["avgdl"]) as held:
        assert held.terms._df_map is not None
        for name, snap in {"join": frame, "walk": held}.items():
            got = _canon(snap.search_multiterm(
                q, "fuzzy", k=10, prefix_length=0, transpositions=True
            ))
            pd.testing.assert_frame_equal(
                got, want, check_exact=False, atol=1e-9, obj=name
            )
    d.unpersist()
