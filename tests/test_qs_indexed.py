"""query_string and simple_query_string served from a positional index
must be rank-identical to their references: the composition path
qs.search_query_string over the raw docs, and the DuckDB oracles
generated from the same parsers (qs.query_string_fields_sql,
oracles.simple_qs_sql) over the same docs."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from mario_spark.docs import assign_doc_ids
from mario_spark.fixtures import pages_df
from mario_spark.index import Catalog
from mario_spark.phrase import positional_snapshot
from mario_spark.qs import search_query_string

QUERIES = [
    (0, "data web -crawl"),
    (1, '+index "the data"'),
    (2, '"web search" spark'),
    (3, "+score +page"),
    (4, "-the data"),
]


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def _canon_sql(docs, sql):
    """The oracle `sql` run by DuckDB over a `documents` view of the
    Spark frame `docs` (doc_id, text), in _canon's shape and dtypes."""
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    return (
        con.execute(sql).df()
        .astype({"query_id": "int64", "rank": "int64", "doc_id": "int64"})
        .sort_values(["query_id", "rank"], ignore_index=True)
    )


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "catalog")


def test_query_string_indexed_matches_composition(spark, root):
    pages = pages_df(spark, 500, seed=11, partitions=4)
    cat = Catalog(spark, root)
    idx = cat.create("pages-2026-01-01t00-00-00z")
    idx.ingest(pages, positions=True)

    got = _canon(idx.search_query_string(QUERIES, k=10))
    # same deterministic ids as ingest (pinned partition count)
    ref_docs = assign_doc_ids(pages).select("doc_id", "text")
    want = _canon(search_query_string(ref_docs, QUERIES, k=10))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    # warm QuerySession serving is identical too
    from mario_spark.wand import QuerySession

    st = idx.stats()
    sess = QuerySession(
        idx.postings(), idx.dictionary(), st["n_docs"], st["avgdl"]
    ).warm()
    got_s = _canon(sess.search_query_string(QUERIES, k=10))
    pd.testing.assert_frame_equal(got_s, want, check_exact=False, atol=1e-9)
    sess.postings.unpersist()

    # tombstones are honored on this path too
    deleted_some = idx.delete_by_query(["data"])
    assert deleted_some["deleted"] > 0
    after = idx.search_query_string(QUERIES, k=10).toPandas()
    dele = {r["doc_id"] for r in idx.deleted_ids().collect()}
    assert not set(after["doc_id"]).intersection(dele)


def test_query_string_fields_indexed_matches_composition(spark, root):
    """Field-scoped query_string served from a persisted fields=... +
    positions=True index must be rank-identical to its DuckDB oracle
    (qs.query_string_fields_sql over the same raw pages)."""
    from pyspark.sql import functions as F

    from mario_spark.qs import query_string_fields_sql

    pages = pages_df(spark, 400, seed=13, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    cat = Catalog(spark, root)
    idx = cat.create("pages-2026-01-01t00-00-00z")
    idx.ingest(
        pages, segment_docs=256, positions=True,
        fields={"title": "title", "contents": "text"},
    )

    queries = [
        (0, "title:data web"),
        (1, '+contents:"the data" title:web'),
        (2, "data -title:crawl"),
        (3, "+title:data +contents:page"),
        (4, "+missing:foo data"),   # unmapped must -> empty
        (5, "missing:foo data"),    # unmapped should -> ignored
    ]
    got = _canon(idx.search_query_string(queries, k=10, default_field="contents"))
    ref_docs = assign_doc_ids(pages).select("doc_id", "text")
    want = _canon_sql(
        ref_docs,
        query_string_fields_sql(
            queries,
            {"title": "substr(text, 1, 48)", "contents": "text"},
            default_field="contents",
            k=10,
        ),
    )
    assert len(got) > 0
    assert 4 not in set(got["query_id"])  # unmapped must matched nothing
    assert 5 in set(got["query_id"])      # unmapped should was ignored
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    # a fields index without default_field (or an unmapped one) refuses
    for bad in (None, "nope"):
        with pytest.raises(ValueError):
            idx.search_query_string(queries, k=10, default_field=bad)

    # warm field-scoped QuerySession serving is identical too
    from mario_spark.wand import QuerySession

    fst = idx.field_stats()
    sess = QuerySession(
        idx.postings(), idx.dictionary(), idx.stats()["n_docs"],
        idx.stats()["avgdl"],
        field_stats={
            f: (s["n_docs"], s["avgdl"]) for f, s in fst.items()
        },
    ).warm()
    got_s = _canon(
        sess.search_query_string(queries, k=10, default_field="contents")
    )
    pd.testing.assert_frame_equal(got_s, want, check_exact=False, atol=1e-9)
    with pytest.raises(ValueError):
        sess.search_query_string(queries, k=10, default_field="nope")
    sess.postings.unpersist()


def test_simple_qs_parser_degrades_never_raises():
    """Lucene SimpleQueryParser contract: malformed input parses to
    SOMETHING — unbalanced quotes, dangling operators, empty groups."""
    from mario_spark.qs import parse_simple_query_string as p

    assert p("") == []
    assert p("| | |") == []
    assert p("-only -negs") == []           # pure-negative dropped
    assert p('"unbalanced') != None  # noqa: E711 — must not raise
    d = p("a -b | c*")
    assert d[0] == [("chain", False, ["a"]), ("chain", True, ["b"])]
    assert d[1] == [("prefix", False, ["c"])]
    # '*' on a multi-token atom degrades to a phrase chain
    assert p("x-y*") == [[("chain", False, ["x", "y"])]]


def test_query_string_fields_scoping_semantics(spark):
    """field:term scopes matching to THAT field; unmapped fields keep
    Lucene behavior (should contributes nothing, must matches nothing);
    a field phrase requires adjacency within the field."""
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [
            (0, "alpha beta. gamma delta epsilon"),
            (1, "zeta eta. alpha beta gamma"),
            (2, "theta iota. beta alpha"),
        ],
        "doc_id long, text string",
    )
    fx = {
        "title": F.substring("text", 1, 10),  # first ~2 tokens
        "contents": F.col("text"),
    }

    fsnap = positional_snapshot(d, fx)

    def run(q):
        out = fsnap.search_query_string([(0, q)], k=10, default_field="contents")
        return sorted(r["doc_id"] for r in out.collect())

    # title: scoping — 'alpha' is in doc 0's title only (docs 1,2 have
    # it in contents past char 10)
    assert run("+title:alpha") == [0]
    assert run("+contents:alpha") == [0, 1, 2]
    # default field is contents
    assert run("+alpha") == [0, 1, 2]
    # field phrase: adjacency inside the field
    assert run('+contents:"beta alpha"') == [2]
    # unmapped must -> empty; unmapped should -> ignored
    assert run("+missing:alpha beta") == []
    assert run("missing:alpha beta") == [0, 1, 2]
    # field-scoped NOT
    assert run("beta -title:alpha") == [1, 2]


def test_query_string_degenerate_inputs_empty_not_crash(spark, job_count):
    """Empty / operator-only / pure-negative query strings match
    NOTHING (Lucene's zero-clause BooleanQuery) and never crash; over a
    positional Snapshot they also run no Spark job: such a query has no
    positive clause to look up."""
    from mario_spark.qs import search_simple_query_string

    d = spark.createDataFrame(
        [(0, "join hash"), (1, "merge")], "doc_id long, text string"
    )
    for q in ("", "+", "-merge", "-x"):
        assert search_query_string(d, [(0, q)]).count() == 0, q
    snap = positional_snapshot(d)
    runs = {
        "query_string": (snap.search_query_string, "-x"),
        "simple_query_string": (
            lambda qs: search_simple_query_string(snap, qs), '-"a b"'
        ),
    }
    for name, (fn, neg) in runs.items():
        for q in ("", "+", "-merge", neg):
            out = []
            assert job_count(lambda: out.append(fn([(0, q)]))) == 0, (name, q)
            assert out[0].count() == 0, (name, q)


def test_simple_query_string_matches_oracle(spark, root):
    """simple_query_string over a pinned positions=True index is
    rank-identical to its DuckDB oracle (oracles.simple_qs_sql over the
    same raw pages): '|' groups sum, negated chains and prefixes
    exclude, phrases chain (a repeated phrase term adds its idf once
    per occurrence), `word*` is constant-score over its expansions, and
    an OOV term empties its group."""
    from mario_spark.oracles import simple_qs_sql
    from mario_spark.qs import search_simple_query_string

    pages = pages_df(spark, 400, seed=19, partitions=4)
    cat = Catalog(spark, root)
    idx = cat.create("pages-2026-03-01t00-00-00z")
    idx.ingest(pages, positions=True, segment_docs=256)

    queries = [
        (0, "data web | search spark"),
        (1, 'index -crawl | "the data"'),
        (2, "w001* score"),
        (3, "data -w00* | zzzoov"),
        (4, '"web search" -zzzoov | page query'),
        (5, "zzzoov data"),
        (6, "w000* | w001*"),
        (7, '"the the" | "data data" web'),
    ]
    got = _canon(search_simple_query_string(idx.open_pit(), queries, k=10))
    want = _canon_sql(
        assign_doc_ids(pages).select("doc_id", "text"),
        simple_qs_sql(queries, k=10),
    )
    assert set(got["query_id"]) == {0, 1, 2, 3, 4, 6, 7}
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)


def test_cross_fields_warm_session_matches_composition(spark, root):
    """multi_match cross_fields served through the warm WAND kernel
    (dis-max term groups, blended idf, per-field avgdl in avgdl_map)
    must be rank-identical to the oracle-checked composition path
    (fields.search_cross_fields over the raw field doc table), on both
    the driver fast path and the distributed kernel path."""
    from pyspark.sql import functions as F

    from mario_spark import fields as fieldsmod
    from mario_spark.fixtures import make_pages_query_set, query_terms_df
    from mario_spark.wand import QuerySession

    pages = pages_df(spark, 400, seed=17, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    cat = Catalog(spark, root)
    idx = cat.create("pages-2026-02-01t00-00-00z")
    idx.ingest(
        pages, segment_docs=256,
        fields={"title": "title", "contents": "text"},
    )
    boosts = {"title": 2.0, "contents": 1.0}
    queries = make_pages_query_set(seed=17, n=8)

    fdocs = fieldsmod.build_field_doc_table(
        assign_doc_ids(pages),
        {"title": F.col("title"), "contents": F.col("text")},
    )
    q = query_terms_df(spark, queries)
    want = _canon(fieldsmod.search_cross_fields(fdocs, q, boosts, k=10))
    assert len(want) > 0

    fst = idx.field_stats()
    sess = QuerySession(
        idx.postings(), idx.dictionary(), idx.stats()["n_docs"],
        idx.stats()["avgdl"],
        field_stats={
            f: (s["n_docs"], s["avgdl"]) for f, s in fst.items()
        },
    ).warm()
    got = _canon(sess.search_cross_fields(queries, boosts, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    got_d = _canon(
        sess.search_cross_fields(queries, boosts, k=10, driver_limit=0)
    )
    pd.testing.assert_frame_equal(got_d, want, check_exact=False, atol=1e-9)
    # a field outside the session's stats must refuse
    with pytest.raises(ValueError):
        sess.search_cross_fields(queries, {"nope": 1.0}, k=10)
    sess.postings.unpersist()
