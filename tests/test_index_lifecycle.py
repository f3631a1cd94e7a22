"""Index lifecycle: segmented build, resume-after-crash, merge/compact,
catalog ops (A10-A16), Record JSON source (A3), CLI surface (A18)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from mario_spark import query
from mario_spark.docs import build_doc_table
from mario_spark.fixtures import (
    documents_as_pages,
    make_pages_query_set,
    pages_df,
    query_terms_df,
)
from mario_spark.index import Catalog
from mario_spark.merge import compact_segments

SF_DIR = "/root/testdata/sf0.001"
FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "timdex_sample.json")


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "catalog")


def test_ingest_query_matches_exhaustive(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 900, seed=3, partitions=4)
    idx = cat.create("pages-2026-01-01t00-00-00z")
    st = idx.ingest(pages, segment_docs=256)
    assert st["n_docs"] == 900
    assert st["segments"] == 4  # 900 docs / 256-aligned segments

    q = query_terms_df(spark, make_pages_query_set(seed=3, n=12))
    d = build_doc_table(pages).persist()
    want = _canon(query.search_exhaustive(d, q, k=10))
    got = _canon(idx.search(q, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()

    # manifest: per-(segment, dbucket) metrics exist and sum to postings
    man = idx.manifest().toPandas()
    assert man["postings"].sum() == idx.postings().toPandas()["n"].sum()
    assert set(man["segment"].unique()) == {0, 1, 2, 3}


def test_multiterm_queries_over_persisted_index(spark, root):
    """fuzzy / prefix / wildcard served from a committed index: fuzzy
    must equal the exhaustive scorer over the Spark expansion join of
    the index's dictionary."""
    from mario_spark import fuzzy as fuzzymod

    cat = Catalog(spark, root)
    pages = pages_df(spark, 600, seed=5, partitions=4)
    idx = cat.create("mt-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=256)
    q = [(0, "w0000z"), (1, "w0001*")]
    qdf = spark.createDataFrame(q, "query_id long, term string")

    got = _canon(idx.search_multiterm(q, kind="fuzzy", k=10))
    exp = fuzzymod.expand("fuzzy", idx.dictionary(), qdf)
    d = build_doc_table(pages).persist()
    want = _canon(
        query.search_exhaustive(d, exp.select("query_id", "term"), k=10)
    )
    d.unpersist()
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    got = _canon(idx.search_multiterm([(0, "w0000")], kind="prefix", k=10))
    assert len(got) > 0 and (got["query_id"] == 0).all()
    got = _canon(idx.search_multiterm(q, kind="wildcard", k=10))
    assert set(got["query_id"]) == {1}  # only the * pattern expands


def test_resume_after_crash_is_identical(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 700, seed=5, partitions=4)

    # full build in one go -> reference answer
    full = cat.create("full-2026-01-01t00-00-00z")
    full.ingest(pages, segment_docs=256)

    # crashed build: dies after 1 segment, then resumes
    part = cat.create("part-2026-01-01t00-00-00z")
    with pytest.raises(RuntimeError, match="simulated failure"):
        part.ingest(pages, segment_docs=256, fail_after_segment=1)
    assert len(part.paths.committed_segments()) == 1
    st = part.ingest(pages, segment_docs=256)  # resume
    assert st["n_docs"] == 700 and st["segments"] == 3

    a = full.postings().toPandas().sort_values(
        ["term", "dbucket", "block_id"], ignore_index=True
    )
    b = part.postings().toPandas().sort_values(
        ["term", "dbucket", "block_id"], ignore_index=True
    )
    pd.testing.assert_frame_equal(a, b)

    q = query_terms_df(spark, make_pages_query_set(seed=5, n=8))
    pd.testing.assert_frame_equal(
        _canon(full.search(q)), _canon(part.search(q)), check_exact=False, atol=1e-9
    )


def test_merge_preserves_results(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 600, seed=9, partitions=4)
    idx = cat.create("m-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=256)
    assert idx.stats()["segments"] == 3

    q = query_terms_df(spark, make_pages_query_set(seed=9, n=10))
    before = _canon(idx.search(q))
    new_seg = compact_segments(idx)
    st = idx.stats()
    assert st["segments"] == 1 and st["n_docs"] == 600
    after = _canon(idx.search(q))
    pd.testing.assert_frame_equal(after, before, check_exact=False, atol=1e-9)
    # compaction repacks blocks: merged index has no more blocks than before
    assert idx.paths.committed_segments() == [new_seg]


def test_positional_index_lifecycle(spark, root):
    """positions=True index: WAND results identical to a plain index,
    phrase queries answered, and compaction preserves the poss stream."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 500, seed=11, partitions=4)

    plain = cat.create("plain-2026-01-01t00-00-00z")
    plain.ingest(pages, segment_docs=256)
    pos = cat.create("pos-2026-01-01t00-00-00z")
    pos.ingest(pages, segment_docs=256, positions=True)
    assert "poss" in pos.postings().columns

    # plain BM25/WAND is unaffected by the extra stream
    q = query_terms_df(spark, make_pages_query_set(seed=11, n=8))
    pd.testing.assert_frame_equal(
        _canon(pos.search(q)), _canon(plain.search(q)),
        check_exact=False, atol=1e-9,
    )

    # phrase query: take a real bigram from doc text
    txt = pages.select("text").limit(1).collect()[0][0].split()
    phrase = f"{txt[3]} {txt[4]}"
    hits = pos.search_phrase([(0, phrase)], k=10).toPandas()
    assert len(hits) > 0
    with pytest.raises(ValueError, match="without positions"):
        plain.search_phrase([(0, phrase)])

    # compaction round-trips positions
    before = _canon(pos.search_phrase([(0, phrase)], k=10))
    compact_segments(pos)
    assert pos.stats()["segments"] == 1
    after = _canon(pos.search_phrase([(0, phrase)], k=10))
    pd.testing.assert_frame_equal(after, before, check_exact=False, atol=1e-9)


def test_field_index_lifecycle(spark, root):
    """fields=... index: persisted field-scoped postings + per-segment
    field stats match the ad-hoc fields.py path; compaction preserves
    results; blob search on a field index is rejected."""
    import pyspark.sql.functions as F

    from mario_spark import fields as fieldsmod
    from mario_spark.fixtures import DOCUMENTS_QUERY_SET
    from mario_spark.wand import Snapshot, TermStats

    cat = Catalog(spark, root)
    pages = documents_as_pages(spark, SF_DIR).withColumn(
        "title", F.substring("text", 1, 64)
    )
    idx = cat.create("f-2026-01-01t00-00-00z")
    st = idx.ingest(
        pages, segment_docs=256, fields={"title": "title", "contents": "text"}
    )
    assert st["n_docs"] == 500 and st["segments"] == 2

    fd = fieldsmod.build_field_doc_table(
        pages, {"title": F.col("title"), "contents": F.col("text")}
    ).persist()
    stats = {r["field"]: r for r in fieldsmod.field_stats(fd).collect()}
    post, dic, _ = fieldsmod.build_field_postings(fd, 500)
    fsnap = Snapshot(
        post, TermStats(lambda: dic), 500, 0.0,
        field_stats={f: (r["n_docs"], r["avgdl"]) for f, r in stats.items()},
    )
    want = _canon(fsnap.search(DOCUMENTS_QUERY_SET, k=10, field="title"))
    got = _canon(idx.search_field("title", DOCUMENTS_QUERY_SET, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    # additive per-segment field stats equal the global computation
    ifs = idx.field_stats()
    assert ifs["title"]["n_docs"] == stats["title"]["n_docs"]
    assert abs(ifs["title"]["avgdl"] - stats["title"]["avgdl"]) < 1e-9

    with pytest.raises(ValueError, match="field-scoped"):
        idx.search(query_terms_df(spark, DOCUMENTS_QUERY_SET))

    compact_segments(idx)
    assert idx.stats()["segments"] == 1
    after = _canon(idx.search_field("title", DOCUMENTS_QUERY_SET, k=10))
    pd.testing.assert_frame_equal(after, want, check_exact=False, atol=1e-9)
    fd.unpersist()


def test_catalog_ops(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 300, seed=1, partitions=2)
    name1 = "src1-2026-01-01t00-00-00z"
    name2 = "src1-2026-02-02t00-00-00z"
    cat.create(name1).ingest(pages)
    cat.create(name2).ingest(pages)

    # A12 promote swaps same-prefix index in one commit
    cat.promote(name1)
    assert cat.current("src1") == name1
    cat.promote(name2)
    assert cat.current("src1") == name2
    assert name1 not in cat.aliases()[Catalog.DEFAULT_ALIAS]

    # resolve via alias
    assert cat.resolve(Catalog.DEFAULT_ALIAS).paths.name == name2

    # A14 reindex: distributed read->write copy; verify through a FRESH
    # catalog handle (new open, no shared state) that the copy is a
    # complete, queryable index returning identical results
    n = cat.reindex(name2, "copy-2026-01-01t00-00-00z")
    assert n == 300
    fresh = Catalog(spark, root).open("copy-2026-01-01t00-00-00z")
    assert fresh.stats()["n_docs"] == 300
    q = query_terms_df(spark, make_pages_query_set(seed=1, n=6))
    pd.testing.assert_frame_equal(
        _canon(fresh.search(q)),
        _canon(cat.open(name2).search(q)),
        check_exact=False,
        atol=1e-9,
    )

    # A11/A12 survive dashes in the source name (timestamp-suffix parse)
    dashed = "my-dashed-src-2026-01-01t00-00-00z"
    cat.create(dashed).ingest(pages_df(spark, 50, seed=4, partitions=2))
    cat.promote(dashed)
    assert cat.current("my-dashed-src") == dashed
    cat.delete(dashed)

    # A15 listings
    listing = {i["index"]: i for i in cat.indexes()}
    assert listing[name2]["docs"] == 300
    assert listing[name2]["size_bytes"] > 0

    # A16 ping
    assert cat.ping()["spark"] == spark.version

    # A13 delete drops dir + alias membership
    cat.delete(name2)
    assert cat.current("src1") is None
    assert not os.path.isdir(os.path.join(root, name2))


def test_record_schema_and_source(spark):
    from mario_spark.record import read_records, records_as_pages, parse_date_expr
    import pyspark.sql.functions as F

    recs = read_records(spark, FIXTURE)
    rows = recs.collect()
    assert len(rows) == 6  # jsonrecord_test.go:25 asserts 6 on its fixture
    by_id = {r["timdex_record_id"]: r for r in rows}
    # unknown key silently dropped (Go decoder semantics)
    assert by_id["alma:990003"]["publication_information"] is None
    # nested contributor with non-ASCII value survives
    assert by_id["alma:990001"]["contributors"][0]["value"] == "Pérez, Alejandra"
    assert by_id["alma:990001"]["contributors"][0]["mit_affiliated"] is True
    # geo point
    assert by_id["alma:990003"]["locations"][0]["geopoint"][0] == pytest.approx(8.5417)
    # date range bounds
    r = by_id["aspace:repo2-441"]["dates"][0]["range"]
    assert r["gte"] == "1964" and r["lt"] == "1989"

    pages = records_as_pages(recs)
    p = {r["url"]: r for r in pages.collect()}
    # searchable text includes title + nested subject values,
    # excludes index:false fields (physical_description, source_link)
    t1 = p["alma:990001"]["text"]
    assert "Query optimization" in t1 and "columnar storage" in t1
    assert "340 pages" not in t1 and "example.edu" not in t1
    assert p["alma:990001"]["lang"] == "eng"

    # B11 date cascade: year / year-month / full date / basic_date
    d = recs.select(
        "timdex_record_id",
        parse_date_expr(F.element_at("dates", 1)["value"]).alias("ts"),
    )
    got = {r["timdex_record_id"]: r["ts"] for r in d.collect()}
    assert got["alma:990001"].year == 2019
    assert (got["alma:990002"].year, got["alma:990002"].month) == (2003, 7)
    assert got["dspace:7721"].day == 14
    assert (got["alma:990004"].year, got["alma:990004"].month, got["alma:990004"].day) == (1999, 12, 31)


def test_cli_roundtrip(spark, root, capsys):
    from mario_spark import cli

    # silent consumer = count only (consumers.go:85-94)
    cli.main(["--root", root, "ingest", "-s", "alma", "-c", "silent", FIXTURE])
    assert capsys.readouterr().out.strip() == "6"

    # title consumer prints titles (consumers.go:68-77)
    cli.main(["--root", root, "ingest", "-s", "alma", "-c", "title", FIXTURE])
    out = capsys.readouterr().out
    assert "Distributed query processing over columnar storage" in out

    # full ingest -> index + auto-promote, then query through the alias
    cli.main(["--root", root, "ingest", "-s", "alma", "--new", "--auto", FIXTURE])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_docs"] == 6

    cli.main(["--root", root, "aliases"])
    aliases = json.loads(capsys.readouterr().out)
    assert len(aliases[cli.DEFAULT_ROOT and "timdex-prod"]) == 1

    cli.main(["--root", root, "query", "-i", "timdex-prod", "indexing"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert any("art of indexing" not in ln for ln in lines)  # urls are record ids
    top = json.loads(lines[0])
    assert top["rank"] == 1 and top["url"].startswith("alma:")


def test_rollover_and_snapshot_restore(spark, root):
    """ILM rollover mints + promotes a fresh index once the doc-count
    condition fires; snapshot/restore round-trips a queryable index
    through the manifest-pinned copy."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 300, seed=1, partitions=2)
    name1 = "srcx-2026-01-01t00-00-00z"
    cat.create(name1).ingest(pages)
    cat.promote(name1)

    # below the condition: no rollover
    assert cat.rollover("srcx", max_docs=1000) is None
    assert cat.current("srcx") == name1

    # at/above: new index minted and swapped in, old one off the alias
    name2 = "srcx-2026-02-02t00-00-00z"
    got = cat.rollover("srcx", max_docs=300, new_name=name2)
    assert got == name2
    assert cat.current("srcx") == name2
    assert name1 not in cat.aliases()[Catalog.DEFAULT_ALIAS]

    # snapshot the full index, restore under a new name, query parity
    snap = os.path.join(root, "snaps", "s1")
    man = cat.snapshot(name1, snap)
    assert man["n_docs"] == 300 and man["segments"]
    restored = cat.restore(snap, "resto-2026-03-03t00-00-00z")
    assert restored.stats()["n_docs"] == 300
    q = query_terms_df(spark, make_pages_query_set(seed=1, n=6))
    pd.testing.assert_frame_equal(
        _canon(restored.search(q)),
        _canon(cat.open(name1).search(q)),
        check_exact=False,
        atol=1e-9,
    )


def test_federated_dfs_matches_combined_index(spark, root):
    """dfs_query_then_fetch across two half-corpus indexes must be
    rank- and score-identical (per url) to ONE index over the full
    corpus — the global-stats pre-phase makes shard scores comparable.
    query_then_fetch (per-index stats) runs too and demonstrably
    differs on at least one score for the same inputs."""
    import pyspark.sql.functions as F

    from mario_spark.federate import search_indexes

    cat = Catalog(spark, root)
    pages = pages_df(spark, 400, seed=3, partitions=2).persist()
    half = F.crc32(F.col("url")) % 2
    a = pages.filter(half == 0)
    b_ = pages.filter(half == 1)
    cat.create("fa-2026-01-01t00-00-00z").ingest(a)
    cat.create("fb-2026-01-01t00-00-00z").ingest(b_)
    cat.create("full-2026-01-01t00-00-00z").ingest(pages)

    q = query_terms_df(spark, make_pages_query_set(seed=3, n=8))
    fed = search_indexes(
        cat, ["fa-2026-01-01t00-00-00z", "fb-2026-01-01t00-00-00z"], q, k=10,
        mode="dfs_query_then_fetch",
    )
    full = cat.open("full-2026-01-01t00-00-00z").search(q, k=10)

    # map both to urls (doc ids are per-index); compare (query, rank,
    # url, score)
    def with_url(res, idx_names):
        out = []
        for name in idx_names:
            idx = cat.open(name)
            part = res.filter(F.col("index") == name) if "index" in res.columns else res
            out.append(
                part.join(
                    idx.docs().select("doc_id", "url"), "doc_id"
                ).select("query_id", "rank", "url", "score")
            )
        u = out[0]
        for p in out[1:]:
            u = u.unionByName(p)
        return u

    fed_u = with_url(
        fed, ["fa-2026-01-01t00-00-00z", "fb-2026-01-01t00-00-00z"]
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    full_u = with_url(
        full, ["full-2026-01-01t00-00-00z"]
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(fed_u) == len(full_u) > 0
    # tie-break order differs (local vs global doc ids), so compare
    # the per-query SCORE sequences exactly, and the url SETS among
    # scores strictly above the k-boundary score (ties straddling the
    # cutoff legitimately admit different members)
    for qid, fg in fed_u.groupby("query_id"):
        fl = full_u[full_u.query_id == qid]
        assert list(fg["score"]) == list(fl["score"])
        if len(fg):
            boundary = fg["score"].min()
            assert set(fg[fg.score > boundary]["url"]) == set(
                fl[fl.score > boundary]["url"]
            )

    # per-index-stats mode exists and produces a DIFFERENT score
    # somewhere (the documented query_then_fetch quirk)
    qtf = search_indexes(
        cat, ["fa-2026-01-01t00-00-00z", "fb-2026-01-01t00-00-00z"], q, k=10,
        mode="query_then_fetch",
    )
    qtf_u = with_url(
        qtf, ["fa-2026-01-01t00-00-00z", "fb-2026-01-01t00-00-00z"]
    ).toPandas()
    merged = qtf_u.merge(fed_u, on=["query_id", "url"], suffixes=("_q", "_d"))
    assert (merged["score_q"] != merged["score_d"]).any()


def test_partial_snapshot_is_invisible(spark, root):
    """A snapshot dir without its manifest (crash before the LAST
    atomic write) must be rejected by restore — readers trust only the
    manifest."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 100, seed=5, partitions=2)
    cat.create("snapx-2026-01-01t00-00-00z").ingest(pages)
    snap = os.path.join(root, "snaps", "partial")
    cat.snapshot("snapx-2026-01-01t00-00-00z", snap)
    os.remove(os.path.join(snap, "_snapshot.json"))  # simulate crash
    with pytest.raises(ValueError, match="no snapshot manifest"):
        cat.restore(snap, "never-2026-01-01t00-00-00z")


def test_cross_cluster_search_dfs(spark, root, tmp_path):
    """Cross-cluster search: two separate catalog roots ('clusters'),
    dfs mode — same global-stats merge invariant as federated search,
    hits labeled with their cluster prefix."""
    import pyspark.sql.functions as F

    from mario_spark.federate import search_clusters

    cat_a = Catalog(spark, os.path.join(str(tmp_path), "cluster_a"))
    cat_b = Catalog(spark, os.path.join(str(tmp_path), "cluster_b"))
    pages = pages_df(spark, 300, seed=7, partitions=2).persist()
    half = F.crc32(F.col("url")) % 2
    cat_a.create("ca-2026-01-01t00-00-00z").ingest(pages.filter(half == 0))
    cat_b.create("cb-2026-01-01t00-00-00z").ingest(pages.filter(half == 1))
    # reference: one combined index in cluster a
    cat_a.create("all-2026-01-01t00-00-00z").ingest(pages)

    q = query_terms_df(spark, make_pages_query_set(seed=7, n=6))
    ccs = search_clusters(
        [
            (cat_a, "ca-2026-01-01t00-00-00z"),
            (cat_b, "cb-2026-01-01t00-00-00z"),
        ],
        q,
        k=10,
        mode="dfs_query_then_fetch",
    ).toPandas()
    assert set(ccs["index"].str.split(":").str[0]) == {
        "cluster_a", "cluster_b"
    }
    full = (
        cat_a.open("all-2026-01-01t00-00-00z").search(q, k=10).toPandas()
    )
    # score sequences identical per query (same invariant as federated)
    for qid, g in ccs.groupby("query_id"):
        fl = full[full.query_id == qid].sort_values("rank")
        assert list(g.sort_values("rank")["score"]) == list(fl["score"])


def test_snapshot_is_idempotent(spark, root):
    """Re-running snapshot over the same index overwrites cleanly and
    produces an identical manifest (crash-retry safety)."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 120, seed=9, partitions=2)
    cat.create("ssi-2026-01-01t00-00-00z").ingest(pages)
    snap = os.path.join(root, "snaps", "idem")
    m1 = cat.snapshot("ssi-2026-01-01t00-00-00z", snap)
    m2 = cat.snapshot("ssi-2026-01-01t00-00-00z", snap)
    assert m1 == m2
    restored = cat.restore(snap, "ssi2-2026-01-01t00-00-00z")
    assert restored.stats()["n_docs"] == 120


def test_empty_index_searches_empty_not_crash(spark, root):
    """A fresh rollover target (zero committed segments) serves EMPTY
    results — alone and inside a federated search — instead of an
    opaque Spark error (the post-rollover serving gap)."""
    from mario_spark.fixtures import query_terms_df as qdf
    from mario_spark.federate import search_indexes

    cat = Catalog(spark, root)
    pages = pages_df(spark, 100, seed=11, partitions=2)
    cat.create("old-2026-01-01t00-00-00z").ingest(pages)
    cat.promote("old-2026-01-01t00-00-00z")
    new = cat.rollover("old", max_docs=100, new_name="old-2026-02-02t00-00-00z")
    assert new is not None
    q = qdf(spark, [(0, "the")])
    assert cat.open(new).search(q).count() == 0
    fed = search_indexes(
        cat, [new, "old-2026-01-01t00-00-00z"], q, k=5
    )
    assert fed.count() > 0  # the non-empty member still serves
    only_empty = search_indexes(cat, [new], q, k=5)
    assert only_empty.count() == 0


def test_index_templates(spark, root):
    cat = Catalog(spark, root)
    # two templates; the higher-priority one wins for pages-*
    cat.put_template(
        "pages-base", ["pages-*"], {"segment_docs": 128}, priority=0
    )
    cat.put_template(
        "pages-phrases", ["pages-*"],
        {"segment_docs": 128, "positions": True}, priority=10,
    )
    assert set(cat.templates()) == {"pages-base", "pages-phrases"}
    with pytest.raises(ValueError):
        cat.put_template("bad", ["x-*"], {"nonsense": 1})

    pages = pages_df(spark, 300, seed=3, partitions=2)

    # matching name: created index inherits positions + segment_docs
    idx = cat.create("pages-2026-03-01t00-00-00z")
    st = idx.ingest(pages)
    meta = json.load(open(idx.paths.meta))
    assert meta["positions"] is True
    assert meta["segment_docs"] == 128
    assert st["n_docs"] == 300
    # the raised format is real: phrase search works
    assert idx.search_phrase([(0, "web crawl")], k=5).count() >= 0

    # non-matching name: untouched defaults (no positions)
    other = cat.create("logs-2026-03-01t00-00-00z")
    other.ingest(pages)
    meta2 = json.load(open(other.paths.meta))
    assert meta2["positions"] is False
    assert meta2["segment_docs"] != 128 or meta2["positions"] is False

    # delete_template: future creates of matching names are unaffected
    cat.delete_template("pages-phrases")
    cat.delete_template("pages-base")
    idx3 = cat.create("pages-2026-04-01t00-00-00z")
    idx3.ingest(pages)
    meta3 = json.load(open(idx3.paths.meta))
    assert meta3["positions"] is False


def test_filtered_alias_search(spark, root):
    import pyspark.sql.functions as F

    cat = Catalog(spark, root)
    pages = pages_df(spark, 500, seed=11, partitions=4)
    name = "src9-2026-01-01t00-00-00z"
    idx = cat.create(name)
    idx.ingest(pages, segment_docs=256)
    cat.promote(name, alias="filtered-prod")
    cat.put_alias_filter("filtered-prod", ["Crawl"])  # analyzed -> crawl
    assert cat.alias_filter("filtered-prod") == ["crawl"]

    q = query_terms_df(spark, make_pages_query_set(seed=11, n=8))
    d = build_doc_table(pages).persist()
    allowed = {
        r["doc_id"]
        for r in query.term_frequencies(d)
        .filter(F.col("term") == "crawl")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert 0 < len(allowed) < 500

    # contract: filtered-alias search == exhaustive ranking restricted
    # to docs containing a filter term, ranks recomputed
    full = (
        query.search_exhaustive(d, q, k=500)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    exp = full[full["doc_id"].isin(allowed)].copy()
    exp["rank"] = exp.groupby("query_id").cumcount() + 1
    exp = exp[exp["rank"] <= 10].reset_index(drop=True)
    got = _canon(cat.search_via("filtered-prod", q, k=10))
    pd.testing.assert_frame_equal(
        got,
        exp[["query_id", "rank", "doc_id", "score"]].astype(got.dtypes),
        check_exact=False,
        atol=1e-9,
    )
    assert set(got["doc_id"]).issubset(allowed)

    # search by bare index name stays unfiltered
    unfiltered = _canon(cat.search_via(name, q, k=10))
    want = _canon(query.search_exhaustive(d, q, k=10))
    pd.testing.assert_frame_equal(
        unfiltered, want.astype(unfiltered.dtypes),
        check_exact=False, atol=1e-9,
    )

    # removing the filter restores plain alias search
    cat.delete_alias_filter("filtered-prod")
    restored = _canon(cat.search_via("filtered-prod", q, k=10))
    pd.testing.assert_frame_equal(
        restored, want.astype(restored.dtypes),
        check_exact=False, atol=1e-9,
    )
    d.unpersist()


def test_multi_member_alias_search_federates(spark, root):
    """An alias spanning one index per source (the TIMDEX layout)
    searches all members with global stats — rank-identical to one
    combined index over the union corpus."""
    import pyspark.sql.functions as F

    cat = Catalog(spark, root)
    pa = pages_df(spark, 300, seed=21, partitions=2)
    pb = pages_df(spark, 200, seed=22, partitions=2).withColumn(
        "url", F.concat(F.lit("b-"), F.col("url"))
    )
    na, nb = "alma-2026-01-01t00-00-00z", "dspace-2026-01-01t00-00-00z"
    cat.create(na).ingest(pa)
    cat.create(nb).ingest(pb)
    cat.promote(na)
    cat.promote(nb)
    assert cat.aliases()[Catalog.DEFAULT_ALIAS] == sorted([na, nb])

    q = query_terms_df(spark, make_pages_query_set(seed=21, n=6))
    got = cat.search_via(Catalog.DEFAULT_ALIAS, q, k=10)
    assert set(got.columns) == {"query_id", "rank", "index", "doc_id", "score"}
    gp = got.toPandas()
    assert set(gp["index"]) == {na, nb}

    # rank identity vs one combined index over the union corpus: the
    # combined scorer uses the same global stats dfs mode reconstructs
    both = pa.unionByName(pb)
    d = build_doc_table(both)
    want = (
        query.search_exhaustive(d, q, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    # doc_ids differ between the per-index and combined builds, so
    # compare on scores per (query, rank) — the rank-identity signal
    gs = gp.sort_values(["query_id", "rank"], ignore_index=True)
    assert len(gs) == len(want)
    pd.testing.assert_series_equal(
        gs["score"], want["score"], check_exact=False, atol=1e-9
    )


def test_cas_committer_lifecycle_and_conflicts(spark, root):
    """The object-store-shaped commit backend (conditional put on a
    per-document generation) must run the whole catalog lifecycle
    unchanged, and its CAS retry must merge concurrent registry
    mutations instead of losing one."""
    from mario_spark import index as idxmod

    prev = idxmod.set_committer(idxmod.CasCommitter())
    try:
        cat = Catalog(spark, root)
        pages = pages_df(spark, 300, seed=31, partitions=2)
        cat.put_template("t", ["pages-*"], {"segment_docs": 128})
        name = "pages-2026-05-01t00-00-00z"
        idx = cat.create(name)
        st = idx.ingest(pages)
        assert st["n_docs"] == 300
        assert json.loads(
            json.dumps(idxmod._read_json(idx.paths.meta))
        )["segment_docs"] == 128  # template applied through CAS reads
        cat.promote(name)
        assert cat.current("pages") == name
        cat.put_alias_filter(Catalog.DEFAULT_ALIAS, ["crawl"])
        q = query_terms_df(spark, make_pages_query_set(seed=31, n=4))
        assert cat.search_via(Catalog.DEFAULT_ALIAS, q, k=5).count() > 0
        res = idx.delete_by_query(["crawl"])
        assert res["deleted"] > 0

        # CAS conflict: a competing writer commits between our read and
        # our put; update_json must retry and PRESERVE both mutations
        path = cat._aliases_path
        state = {"raced": False}

        def mut(aliases):
            aliases = dict(aliases or {})
            if not state["raced"]:
                state["raced"] = True
                # competing writer wins the next generation first
                idxmod._COMMITTER.update_json(
                    path,
                    lambda a: {**(a or {}), "other-alias": ["x-1"]},
                )
            aliases["my-alias"] = ["y-1"]
            return aliases

        idxmod._COMMITTER.update_json(path, mut)
        final = idxmod._read_json(path)
        assert final["other-alias"] == ["x-1"]  # racer's write survived
        assert final["my-alias"] == ["y-1"]     # ours landed on retry
        assert state["raced"]

        cat.delete(name)
        assert cat.aliases().get(Catalog.DEFAULT_ALIAS, []) == []
    finally:
        idxmod.set_committer(prev)


def test_cas_concurrent_promotes_all_land(spark, root):
    """8 threads promote 8 different sources into the same alias
    simultaneously through the CAS backend: every member must land
    (a lost update would drop one silently under last-writer-wins)."""
    from concurrent.futures import ThreadPoolExecutor

    from mario_spark import index as idxmod

    prev = idxmod.set_committer(idxmod.CasCommitter())
    try:
        cat = Catalog(spark, root)
        names = [f"src{i}-2026-06-01t00-00-00z" for i in range(8)]
        for n in names:
            os.makedirs(os.path.join(root, n), exist_ok=True)
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(cat.promote, names))
        assert cat.aliases()[Catalog.DEFAULT_ALIAS] == sorted(names)
    finally:
        idxmod.set_committer(prev)


def test_cli_query_through_alias_semantics(spark, root, capsys):
    """CLI match queries honor alias semantics: a filtered alias
    restricts hits; a multi-member alias federates and attributes each
    hit to its member index."""
    import pyspark.sql.functions as F

    from mario_spark import cli

    cat = Catalog(spark, root)
    pa = pages_df(spark, 200, seed=41, partitions=2)
    pb = pages_df(spark, 150, seed=42, partitions=2).withColumn(
        "url", F.concat(F.lit("b-"), F.col("url"))
    )
    na, nb = "alma-2026-01-01t00-00-00z", "dspace-2026-01-01t00-00-00z"
    cat.create(na).ingest(pa)
    cat.create(nb).ingest(pb)
    cat.promote(na)

    # filtered single-member alias: every hit's doc contains the term
    cat.put_alias_filter(Catalog.DEFAULT_ALIAS, ["crawl"])
    cli.main(["--root", root, "query", "-i", Catalog.DEFAULT_ALIAS, "data"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines
    crawl_docs = {
        r["doc_id"]
        for r in query.term_frequencies(build_doc_table(pa))
        .filter(F.col("term") == "crawl")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert all(json.loads(ln)["doc_id"] in crawl_docs for ln in lines)
    cat.delete_alias_filter(Catalog.DEFAULT_ALIAS)

    # multi-member alias: federated output carries the member index
    cat.promote(nb)
    cli.main(["--root", root, "query", "-i", Catalog.DEFAULT_ALIAS, "data"])
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines
    idxs = {json.loads(ln)["index"] for ln in lines}
    assert idxs.issubset({na, nb}) and len(idxs) >= 1
    assert all("url" in json.loads(ln) for ln in lines)


def test_reshard_rank_identical_and_regridded(spark, root):
    """ES _split/_shrink analogue: rewriting onto a finer AND a coarser
    dbucket grid must keep every query rank-identical while actually
    changing the bucket layout."""
    from mario_spark.merge import reshard

    cat = Catalog(spark, root)
    pages = pages_df(spark, 600, seed=51, partitions=4)
    src = "pages-2026-07-01t00-00-00z"
    idx = cat.create(src)
    idx.ingest(pages, segment_docs=256, range_width=128)
    q = query_terms_df(spark, make_pages_query_set(seed=51, n=8))
    want = _canon(idx.search(q, k=10))
    n_buckets_src = idx.postings().select("dbucket").distinct().count()

    for rw in (64, 512):  # split (finer) and shrink (coarser)
        dst = f"resharded-{rw}-2026-07-01t00-00-00z"
        d = reshard(cat, src, dst, range_width=rw)
        got = _canon(d.search(q, k=10))
        pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
        nb = d.postings().select("dbucket").distinct().count()
        assert nb != n_buckets_src  # the grid genuinely changed
        st = d.stats()
        assert st["n_docs"] == 600 and st["segments"] == 1
        # manifest metrics re-derived from the new layout
        man = d.manifest().toPandas()
        assert man["postings"].sum() == d.postings().toPandas()["n"].sum()

    # tombstones block resharding until purged
    idx.delete_by_query(["crawl"])
    with pytest.raises(ValueError, match="tombstones"):
        reshard(cat, src, "x-2026-07-01t00-00-00z", range_width=64)


def test_shingle_field_index_phrases(spark, root):
    """ES index_phrases as an INDEX option: a shingle sub-field declared
    at ingest serves 2-term phrases via search_phrase_fast, and the
    persisted path is rank-identical to the query-time shingle scorer
    (phrase.search_phrase_shingle) on the same corpus."""
    import pyspark.sql.functions as F

    from mario_spark import phrase as ph
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    bigrams = [
        (qid, t) for qid, t in DOCUMENTS_PHRASE_SET if len(t.split()) == 2
    ]
    cat = Catalog(spark, root)
    pages = documents_as_pages(spark, SF_DIR)
    idx = cat.create("sh-2026-01-01t00-00-00z")
    st = idx.ingest(
        pages,
        segment_docs=256,
        fields={
            "body": "text",
            "body_phrase": {"source": "text", "analyzer": "shingle"},
        },
    )
    assert st["n_docs"] == 500

    got = _canon(idx.search_phrase_fast("body_phrase", bigrams, k=10))
    want = _canon(ph.search_phrase_shingle(pages, bigrams, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    # the standard sibling field still answers plain field-scoped BM25
    r = idx.search_field("body", [(0, "join hash")], k=5)
    assert r.count() > 0

    # non-shingle field refuses the fast-phrase path; >2 tokens refused
    with pytest.raises(ValueError, match="not a shingle field"):
        idx.search_phrase_fast("body", bigrams, k=5)
    with pytest.raises(ValueError, match="2-term"):
        idx.search_phrase_fast("body_phrase", [(0, "a b c")], k=5)


def test_federated_indices_boost(spark, root):
    """ES indices_boost: one index's hits multiply by its boost before
    the coordinator merge — equal boosts of 1.0 change nothing; a big
    boost on one index must put its hits ahead."""
    import pyspark.sql.functions as F

    from mario_spark.federate import search_indexes
    from mario_spark.fixtures import make_pages_query_set, pages_df

    cat = Catalog(spark, root)
    pages = pages_df(spark, 300, seed=5, partitions=2).persist()
    half = F.crc32(F.col("url")) % 2
    na, nb = "ba-2026-01-01t00-00-00z", "bb-2026-01-01t00-00-00z"
    cat.create(na).ingest(pages.filter(half == 0))
    cat.create(nb).ingest(pages.filter(half == 1))
    q = query_terms_df(spark, make_pages_query_set(seed=5, n=4))

    plain = _canon(search_indexes(cat, [na, nb], q, k=10))
    neutral = _canon(
        search_indexes(cat, [na, nb], q, k=10,
                       indices_boost={na: 1.0, nb: 1.0})
    )
    pd.testing.assert_frame_equal(neutral, plain, check_exact=False,
                                  atol=1e-9)

    boosted = search_indexes(
        cat, [na, nb], q, k=10, indices_boost={nb: 100.0}
    ).toPandas()
    # for every query that has ANY hit in the boosted index, that index
    # supplies rank 1 (a boost cannot conjure matches where none exist)
    has_nb = set(plain[plain["index"] == nb]["query_id"])
    assert has_nb, "fixture must give the boosted index some hits"
    top1 = boosted[boosted["rank"] == 1].set_index("query_id")["index"]
    for qid in has_nb:
        assert top1[qid] == nb


def test_index_sorting_early_termination(spark, root):
    """ES index.sort: segments written sorted by warc_ts with marker
    bounds; a sorted top-k scans only segments that can reach the
    phase-1 threshold, pushes the threshold into the parquet scan, and
    matches the naive global sort exactly — through filters, deletes,
    and compaction."""
    from pyspark.sql import functions as F

    from mario_spark.docs import assign_doc_ids
    from mario_spark.fixtures import pages_df

    # crawl-shaped corpus: timestamps monotone in ingest (url) order,
    # so the doc_id-range segments are time-disjoint
    pages = assign_doc_ids(pages_df(spark, 512, seed=17, partitions=4))
    pages = pages.withColumn(
        "warc_ts",
        F.expr(
            "timestamp'2026-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, doc_id * 60)"
        ),
    )
    cat = Catalog(spark, root)
    idx = cat.create("sorted-2026-01-01t00-00-00z")
    st = idx.ingest(pages, segment_docs=128, sort_docs_by="warc_ts")
    assert st["segments"] == 4

    def naive(k, where=None, exclude=frozenset()):
        d = pages.select("doc_id", "url", "lang", "warc_ts")
        if where is not None:
            d = d.filter(where)
        rows = d.orderBy(F.desc("warc_ts"), F.asc("doc_id")).collect()
        rows = [r for r in rows if r["doc_id"] not in exclude]
        return [(r["doc_id"], r["warc_ts"]) for r in rows[:k]]

    # early termination: top-10 lives entirely in the newest segment
    plan = idx.sorted_scan_plan(k=10)
    assert plan["total_segments"] == 4
    assert plan["segments"] == [3]
    assert plan["threshold"] is not None

    got = [
        (r["doc_id"], r["warc_ts"])
        for r in idx.search_sorted(k=10).collect()
    ]
    assert got == naive(10)

    # the threshold reaches the parquet scan (row-group skipping in the
    # sorted file)
    ex = idx.search_sorted(k=10)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in ex and "GreaterThanOrEqual(warc_ts" in ex.replace(
        " ", ""
    )

    # a filter that thins the newest segment widens the scan but stays
    # exact (phase-1 doubling)
    wh = F.col("lang") == "en"
    got_f = [
        (r["doc_id"], r["warc_ts"])
        for r in idx.search_sorted(k=25, where=wh).collect()
    ]
    assert got_f == naive(25, where=F.col("lang") == "en")

    # tombstones are honored (delete a RARE term so >k docs stay live)
    from mario_spark.analyze import tokenize_udf

    rare = (
        pages.select(F.explode(tokenize_udf("text")).alias("t"))
        .groupBy("t")
        .count()
        .filter("count between 3 and 8")
        .orderBy("t")
        .first()["t"]
    )
    dele = idx.delete_by_query([rare])
    assert dele["deleted"] > 0
    gone = {r["doc_id"] for r in idx.deleted_ids().collect()}
    got_d = [
        (r["doc_id"], r["warc_ts"])
        for r in idx.search_sorted(k=10).collect()
    ]
    assert got_d == naive(10, exclude=gone)

    # compaction keeps the invariant: merged docs re-sorted, union
    # bounds carried, results unchanged
    new_id = compact_segments(idx, seg_ids=[2, 3], purge_deletes=False)
    assert idx.sorted_scan_plan(k=10)["segments"] == [new_id]
    got_c = [
        (r["doc_id"], r["warc_ts"])
        for r in idx.search_sorted(k=10).collect()
    ]
    assert got_c == naive(10, exclude=gone)


def test_index_sorting_overlapping_bounds_exact(spark, root):
    """Worst case for sorted early termination: timestamps RANDOM in
    url order, so every segment's bounds overlap and phase 2 must pull
    most segments back in. Exactness must hold anyway — for plain
    top-k, for k larger than one segment, for a filter that starves
    phase 1 (prefix doubling), and for k > corpus (threshold None)."""
    from pyspark.sql import functions as F

    from mario_spark.docs import assign_doc_ids
    from mario_spark.fixtures import pages_df

    pages = assign_doc_ids(pages_df(spark, 384, seed=23, partitions=4))
    # md5-derived pseudo-random minute offset: deterministic, uncorrelated
    # with the doc_id order that defines segment boundaries
    pages = pages.withColumn(
        "warc_ts",
        F.expr(
            "timestamp'2026-03-01 00:00:00' + make_interval(0, 0, 0, 0, 0,"
            " cast(conv(substring(md5(url), 1, 6), 16, 10) as int) % 50000, 0)"
        ),
    )
    cat = Catalog(spark, root)
    idx = cat.create("rnd-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=128, sort_docs_by="warc_ts")

    rows = pages.select("doc_id", "lang", "warc_ts").collect()

    def naive(k, langs=None):
        xs = [r for r in rows if langs is None or r["lang"] in langs]
        xs.sort(key=lambda r: (r["warc_ts"], -r["doc_id"]), reverse=True)
        # reverse=True on the tuple gives ts desc; -doc_id reversed = asc
        return [(r["doc_id"], r["warc_ts"]) for r in xs[:k]]

    for k, where, langs in [
        (7, None, None),
        (150, None, None),                      # spans >1 segment
        (60, F.col("lang") == "pt", ["pt"]),    # sparse filter -> doubling
        (10_000, None, None),                   # k > corpus -> no threshold
    ]:
        got = [
            (r["doc_id"], r["warc_ts"])
            for r in idx.search_sorted(k=k, where=where).collect()
        ]
        assert got == naive(k, langs), (k, len(got))


def test_index_vector_knn_and_hybrid(spark, root):
    """ES dense_vector in the SAME index: ingest stores the vector
    column in the docs parquet; Index.knn matches a driver-side numpy
    cosine oracle (with filter and tombstone semantics), and
    search_hybrid equals the manual RRF of the two standalone arms."""
    import numpy as np
    from pyspark.sql import functions as F

    from mario_spark.fixtures import make_pages_query_set

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pages = (
        documents_as_pages(spark, SF_DIR)
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
    )
    cat = Catalog(spark, root)
    idx = cat.create("vec-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=256, vector_col="embedding")

    rows = pages.select("doc_id", "lang", "embedding").collect()
    ids = np.array([r["doc_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    qvecs = [(int(ids[i]), [float(x) for x in V[i]]) for i in (0, 7, 42)]

    def naive(qv, k, keep=None):
        q = np.array(qv, dtype=np.float64)
        cos = np.round(Vn @ (q / np.linalg.norm(q)), 4)
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))
        out = [(int(ids[i]), float(cos[i])) for i in order
               if keep is None or keep(rows[i])]
        return out[:k]

    got = idx.knn(qvecs, k=5).toPandas()
    for qid, qv in qvecs:
        g = got[got["query_id"] == qid].sort_values("rank")
        assert list(zip(g["doc_id"], g["cos"])) == naive(qv, 5), qid

    # ES kNN filter = pre-filtering
    gotf = idx.knn(qvecs[:1], k=5, where=F.col("lang") == "en").toPandas()
    assert list(zip(gotf["doc_id"], gotf["cos"])) == naive(
        qvecs[0][1], 5, keep=lambda r: r["lang"] == "en"
    )

    # hybrid rrf == manual fusion of the two arms
    qset = make_pages_query_set(seed=2, n=3)
    tq = [(qvecs[i][0], qset[i][1]) for i in range(3)]
    hv = [(qvecs[i][0], qvecs[i][1]) for i in range(3)]
    fused = idx.search_hybrid(tq, hv, k=10, window=20).toPandas()
    lex = idx.search(query_terms_df(spark, tq), k=20).toPandas()
    den = idx.knn(hv, k=20).toPandas()
    for qid, _ in tq:
        score = {}
        for _, r in lex[lex["query_id"] == qid].iterrows():
            score[r["doc_id"]] = score.get(r["doc_id"], 0) + 1 / (60 + r["rank"])
        for _, r in den[den["query_id"] == qid].iterrows():
            score[r["doc_id"]] = score.get(r["doc_id"], 0) + 1 / (60 + r["rank"])
        want = sorted(score.items(), key=lambda x: (-round(x[1], 6), x[0]))[:10]
        g = fused[fused["query_id"] == qid].sort_values("rank")
        assert [
            (d, round(s, 6)) for d, s in want
        ] == list(zip(g["doc_id"], g["rrf"])), qid


def test_append_keeps_sort_and_vector_invariants(spark, root):
    """append() (mario's default ingest) into a sort_docs_by +
    vector_col index: new segments get sorted docs files, marker
    bounds, and the vector column — search_sorted and knn stay exact
    over the union."""
    import numpy as np
    from pyspark.sql import functions as F

    from mario_spark.docs import assign_doc_ids
    from mario_spark.fixtures import pages_df

    def with_cols(pages):
        return pages.withColumn(
            "warc_ts",
            F.expr(
                "timestamp'2026-05-01' + make_interval(0, 0, 0, 0, 0,"
                " cast(conv(substring(md5(url), 1, 6), 16, 10) as int)"
                " % 90000, 0)"
            ),
        ).withColumn(
            "embedding",
            F.expr(
                "transform(sequence(1, 8), i -> cast("
                "conv(substring(md5(concat(url, i)), 1, 4), 16, 10)"
                " as float) / 65535.0)"
            ),
        )

    first = with_cols(assign_doc_ids(pages_df(spark, 256, seed=31, partitions=4)))
    more_raw = pages_df(spark, 500, seed=32, partitions=4).filter(
        F.col("url").contains("p/000003")  # disjoint small batch
    )
    cat = Catalog(spark, root)
    idx = cat.create("av-2026-01-01t00-00-00z")
    idx.ingest(
        first, segment_docs=128, sort_docs_by="warc_ts",
        vector_col="embedding",
    )
    st = idx.append(with_cols(more_raw))
    assert st["n_docs"] > 256

    # every committed segment carries sort bounds
    from mario_spark.index import _read_json

    for s in idx.paths.committed_segments():
        m = _read_json(idx.paths.seg_meta(s)) or {}
        assert m.get("sort_bounds"), s

    docs = idx.docs().select("doc_id", "warc_ts", "embedding").collect()
    want = sorted(docs, key=lambda r: (r["warc_ts"], -r["doc_id"]), reverse=True)
    got = idx.search_sorted(k=15).collect()
    assert [(r["doc_id"], r["warc_ts"]) for r in got] == [
        (r["doc_id"], r["warc_ts"]) for r in want[:15]
    ]

    # knn sees appended docs too
    V = np.array([r["embedding"] for r in docs], dtype=np.float64)
    ids = np.array([r["doc_id"] for r in docs])
    q = V[-1]
    cos = np.round(
        (V / np.linalg.norm(V, axis=1, keepdims=True))
        @ (q / np.linalg.norm(q)),
        4,
    )
    order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:5]
    got_k = idx.knn([(0, [float(x) for x in q])], k=5).collect()
    assert [(r["doc_id"], r["cos"]) for r in got_k] == [
        (int(ids[i]), float(cos[i])) for i in order
    ]


def test_cas_two_process_race_no_lost_update(tmp_path):
    """Two real OS processes hammer CasCommitter.update_json on the
    SAME alias-registry document concurrently. Every update must land
    (no lost update) and the generation sequence must be dense and
    monotone — one .g<N> file per committed update, no gaps."""
    import subprocess
    import sys as _sys

    path = str(tmp_path / "aliases.json")
    n_each = 30
    worker = (
        "import sys\n"
        "sys.path.insert(0, %r)\n"
        "from mario_spark.index import CasCommitter\n"
        "c = CasCommitter()\n"
        "who, n = sys.argv[1], int(sys.argv[2])\n"
        "for i in range(n):\n"
        "    c.update_json(%r, lambda a, i=i: {**(a or {}), f'{who}-{i}': [who]})\n"
        % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), path)
    )
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", worker, who, str(n_each)],
            stderr=subprocess.PIPE,
        )
        for who in ("alpha", "beta")
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()

    from mario_spark.index import CasCommitter

    final = CasCommitter().read_json(path)
    # no lost update: all 60 keys from both processes are present
    want = {f"{who}-{i}" for who in ("alpha", "beta") for i in range(n_each)}
    assert set(final) == want
    # generation sequence is dense: exactly one file per update,
    # numbered 1..60 with no gaps (a gap would mean a torn commit)
    gens = sorted(
        int(f.rsplit(".g", 1)[1])
        for f in os.listdir(tmp_path)
        if ".g" in f and not f.startswith("aliases.json.tmp")
    )
    assert gens == list(range(1, 2 * n_each + 1))
    # monotonicity of content: each generation's registry is a superset
    # of nothing it later loses — spot-check that gen g has exactly g keys
    for g in (1, n_each, 2 * n_each):
        with open(str(tmp_path / f"aliases.json.g{g}")) as f:
            assert len(json.load(f)) == g


def test_cli_committer_flag_selects_cas(spark, root, capsys):
    """--committer cas routes ALL catalog mutations through the CAS
    backend: after a promote, the registry exists as generation files
    (no plain aliases.json), and the CLI reads it back."""
    from mario_spark import index as idxmod
    from mario_spark.cli import main

    prev = idxmod._COMMITTER
    try:
        rc = main(["--root", root, "--committer", "cas", "ping"])
        assert rc == 0
        assert isinstance(idxmod._COMMITTER, idxmod.CasCommitter)
        name = "pages-2026-07-01t00-00-00z"
        os.makedirs(os.path.join(root, name), exist_ok=True)
        assert main(["--root", root, "--committer", "cas",
                     "promote", "-i", name]) == 0
        assert os.path.exists(os.path.join(root, "aliases.json.g1"))
        assert not os.path.exists(os.path.join(root, "aliases.json"))
        capsys.readouterr()
        assert main(["--root", root, "--committer", "cas",
                     "aliases"]) == 0
        out = capsys.readouterr().out
        assert name in out
    finally:
        idxmod.set_committer(prev)


def test_fake_s3_conditional_put_semantics(tmp_path):
    """The fake must honor S3's documented conditional-write contract:
    If-None-Match '*' creates atomically or fails 412; unconditional
    put overwrites; get of a missing key is 404; listing is by raw-key
    prefix even for slash-bearing keys."""
    import pytest

    from mario_spark.objectstore import FakeS3Store, NoSuchKey, PreconditionFailed

    s = FakeS3Store(str(tmp_path / "store"))
    etag = s.put_object("cat/aliases.json.g1", b'{"a":1}', if_none_match="*")
    assert isinstance(etag, str) and len(etag) == 32
    with pytest.raises(PreconditionFailed):
        s.put_object("cat/aliases.json.g1", b'{"a":2}', if_none_match="*")
    assert s.get_object("cat/aliases.json.g1") == b'{"a":1}'  # loser invisible
    s.put_object("cat/aliases.json.g1", b'{"a":3}')  # unconditional wins
    assert s.get_object("cat/aliases.json.g1") == b'{"a":3}'
    with pytest.raises(NoSuchKey):
        s.get_object("cat/absent")
    s.put_object("cat/aliases.json.g2", b"{}", if_none_match="*")
    s.put_object("other/x", b"{}")
    assert s.list_keys("cat/aliases.json.g") == [
        "cat/aliases.json.g1", "cat/aliases.json.g2",
    ]


def test_objectstore_two_process_race_no_lost_update(tmp_path):
    """Two real OS processes hammer ObjectStoreCommitter.update_json on
    the SAME registry document through one shared FakeS3Store. Same
    bar as the CasCommitter race: every update lands, and the
    generation key sequence is dense 1..2n — the contract a real
    S3 If-None-Match backend inherits unchanged (reference parity:
    elastic.go's single-POST atomic alias swap)."""
    import subprocess
    import sys as _sys

    store = str(tmp_path / "store")
    path = "catalog/aliases.json"
    n_each = 30
    worker = (
        "import sys\n"
        "sys.path.insert(0, %r)\n"
        "from mario_spark.index import ObjectStoreCommitter\n"
        "from mario_spark.objectstore import FakeS3Store\n"
        "c = ObjectStoreCommitter(FakeS3Store(%r))\n"
        "who, n = sys.argv[1], int(sys.argv[2])\n"
        "for i in range(n):\n"
        "    c.update_json(%r, lambda a, i=i: {**(a or {}), f'{who}-{i}': [who]})\n"
        % (
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            store,
            path,
        )
    )
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", worker, who, str(n_each)],
            stderr=subprocess.PIPE,
        )
        for who in ("alpha", "beta")
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()

    from mario_spark.index import ObjectStoreCommitter
    from mario_spark.objectstore import FakeS3Store

    s = FakeS3Store(store)
    final = ObjectStoreCommitter(s).read_json(path)
    want = {f"{who}-{i}" for who in ("alpha", "beta") for i in range(n_each)}
    assert set(final) == want
    gens = sorted(
        int(k.rsplit(".g", 1)[1]) for k in s.list_keys(path + ".g")
    )
    assert gens == list(range(1, 2 * n_each + 1))
    # each generation is a fully committed registry of exactly g keys
    for g in (1, n_each, 2 * n_each):
        assert len(json.loads(s.get_object(f"{path}.g{g}"))) == g


def test_cli_committer_flag_selects_s3(spark, root, capsys):
    """--committer s3 routes ALL catalog mutations through the
    object-store backend: after a promote the registry exists only as
    generation keys in the store (no plain aliases.json on the catalog
    root), and the CLI reads it back through the same client."""
    from mario_spark import index as idxmod
    from mario_spark.cli import main
    from mario_spark.objectstore import FakeS3Store

    prev = idxmod._COMMITTER
    try:
        rc = main(["--root", root, "--committer", "s3", "ping"])
        assert rc == 0
        assert isinstance(idxmod._COMMITTER, idxmod.ObjectStoreCommitter)
        name = "pages-2026-07-02t00-00-00z"
        os.makedirs(os.path.join(root, name), exist_ok=True)
        assert main(["--root", root, "--committer", "s3",
                     "promote", "-i", name]) == 0
        assert not os.path.exists(os.path.join(root, "aliases.json"))
        store = FakeS3Store(os.path.join(root, ".objectstore"))
        reg = os.path.join(root, "aliases.json")
        assert store.list_keys(reg + ".g") == [reg + ".g1"]
        capsys.readouterr()
        assert main(["--root", root, "--committer", "s3",
                     "aliases"]) == 0
        out = capsys.readouterr().out
        assert name in out
    finally:
        idxmod.set_committer(prev)


def test_cli_s3_committer_needs_an_explicit_bucket(
    spark, root, capsys, monkeypatch
):
    """--committer s3 selects the real boto3 store only when --s3-bucket
    names a bucket: a stray MARIO_S3_TEST_BUCKET in the environment
    leaves commits in the file-backed fake under <root>/.objectstore,
    and the CLI names the store it chose on stderr."""
    from mario_spark import index as idxmod
    from mario_spark.cli import main
    from mario_spark.objectstore import FakeS3Store

    monkeypatch.setenv("MARIO_S3_TEST_BUCKET", "stray-bucket")
    prev = idxmod._COMMITTER
    try:
        name = "pages-2026-07-03t00-00-00z"
        os.makedirs(os.path.join(root, name), exist_ok=True)
        capsys.readouterr()
        assert main(["--root", root, "--committer", "s3",
                     "promote", "-i", name]) == 0
        err = capsys.readouterr().err
        assert "FakeS3Store" in err and ".objectstore" in err, err
        assert isinstance(idxmod._COMMITTER.client, FakeS3Store)
        store = FakeS3Store(os.path.join(root, ".objectstore"))
        reg = os.path.join(root, "aliases.json")
        assert store.list_keys(reg + ".g") == [reg + ".g1"]
    finally:
        idxmod.set_committer(prev)


def test_read_table_schema_is_spark_inferred_schema(spark, root, tmp_path):
    """read_table takes the schema from Spark's own key in a part
    file's footer instead of running the schema-inference job. For
    every table an index writes (plain, positions, fields=, sort_docs_by,
    vector_col, a maybe_merge segment, tombstone generations) it must
    equal what spark.read.parquet infers; a parquet file without the
    key (written by pyarrow) takes the inferring read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mario_spark.index import _footer_schema, _read_json, read_table
    from mario_spark.merge import maybe_merge

    pages = pages_df(spark, 256, seed=43, partitions=4).withColumn(
        "embedding",
        F.expr(
            "transform(sequence(1, 4), i -> cast("
            "conv(substring(md5(concat(url, i)), 1, 4), 16, 10)"
            " as float) / 65535.0)"
        ),
    )
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    builds = {
        "plain": {},
        "positions": {"positions": True},
        "fields": {"fields": {"contents": "text", "lang": "lang"}},
        "sorted": {"sort_docs_by": "warc_ts"},
        "vector": {"vector_col": "embedding"},
    }
    cat = Catalog(spark, root)
    indexes = {}
    for name, kw in builds.items():
        idx = cat.create(f"{name}-2026-01-01t00-00-00z")
        idx.ingest(pages.filter(doc_num < 200), segment_docs=256, **kw)
        indexes[name] = idx

    # plain: two small appends merged by the tiered policy, then
    # delete -> upsert -> delete tombstone generations
    plain = indexes["plain"]
    for lo in (200, 228):
        plain.append(pages.filter((doc_num >= lo) & (doc_num < lo + 28)))
    merged = maybe_merge(plain, max_per_tier=2)
    assert merged is not None
    by_df = [
        r["term"]
        for r in plain.dictionary().orderBy(F.desc("df"), "term").limit(40)
        .collect()
    ]
    assert plain.delete_by_query([by_df[30]])["deleted"] > 0
    assert plain.upsert(pages.filter(doc_num < 20))["replaced"] > 0
    assert plain.delete_by_query([by_df[35]])["deleted"] > 0
    dele = plain.deleted_ids()
    assert dele.count() == dele.distinct().count() > 0
    assert dele.count() == plain.stats()["n_deleted"]

    for name, idx in indexes.items():
        p = idx.paths
        tables = [p.manifest(s) for s in p.committed_segments()]
        tables += [
            os.path.join(p.seg(s), sub)
            for s in p.committed_segments()
            for sub in ("postings", "docs", "dictionary")
        ]
        marker = _read_json(p.deletes_marker) or {}
        tables += [p.delete_gen(g) for g in marker.get("generations", [])]
        assert len(tables) >= 4, name
        for path in tables:
            assert _footer_schema(path) is not None, path
            got = read_table(spark, path).schema
            assert got == spark.read.parquet(path).schema, path
    assert merged in plain.paths.committed_segments()

    # no Spark key in the footer: the plain inferring read
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(
        pa.table({"term": ["a", "b"], "df": [1, 2]}),
        str(foreign / "part-0.parquet"),
    )
    assert _footer_schema(str(foreign)) is None
    got = read_table(spark, str(foreign))
    assert got.schema == spark.read.parquet(str(foreign)).schema
    assert sorted(tuple(r) for r in got.collect()) == [("a", 1), ("b", 2)]


def test_driver_reads_equal_spark_reads(spark, root):
    """The pyarrow metadata reads a pinned Snapshot makes on the driver
    equal the Spark reads they replace, on a tombstoned 3-segment
    index: the query terms' df (an OOV term, a term present in one
    segment only, terms in every segment), the held df map a session
    opens with, and the tombstone array. New segments write their
    dictionary sorted by term, so row-group statistics prune a lookup;
    an unsorted (older) dictionary is read whole with the same
    result."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mario_spark.localread import (
        _row_groups,
        part_files,
        read_df,
        read_df_map,
    )
    from mario_spark.wand import Snapshot, TermStats

    cat = Catalog(spark, root)
    idx = cat.create("reads-2026-01-01t00-00-00z")
    idx.ingest(pages_df(spark, 300, seed=11, partitions=4), segment_docs=128)
    segs = idx.paths.committed_segments()
    assert len(segs) == 3
    seg_terms = [
        {r["term"] for r in idx.dictionary([s]).collect()} for s in segs
    ]
    only_one = sorted(seg_terms[0] - seg_terms[1] - seg_terms[2])
    in_all = sorted(seg_terms[0] & seg_terms[1] & seg_terms[2])
    assert only_one and len(in_all) > 30
    for gen_terms in ([in_all[-1]], [in_all[-2]]):
        assert idx.delete_by_query(gen_terms)["deleted"] > 0
    terms = ["zz-not-a-term", only_one[0], only_one[-1], *in_all[:20]]

    def check():
        snap = idx.open_pit()
        assert snap.terms.files and snap.deleted_files
        # the Spark routes: a TermStats and a Snapshot without part files
        want = TermStats(lambda: snap.terms.table).df(terms)
        assert want[only_one[0]] > 0 and "zz-not-a-term" not in want
        assert read_df(snap.terms.files, terms) == want
        assert snap.terms.df(terms) == want
        full = {r["term"]: r["df"] for r in idx.dictionary().collect()}
        assert read_df_map(snap.terms.files, None) == full
        assert read_df_map(snap.terms.files, len(full) * 3) == full
        assert read_df_map(snap.terms.files, 10) is None
        spark_read = Snapshot(
            None, snap.terms, 0, 0.0, deleted_docs=lambda: snap.deleted_docs
        )
        assert np.array_equal(snap.deleted, spark_read.deleted)
        return snap

    snap = check()
    for f in snap.terms.files:
        t = f.read(columns=["term"]).column("term").to_pylist()
        assert t == sorted(t), f

    # rewrite segment 0's dictionary in many row groups: sorted, so
    # the statistics prune, then shuffled, as an older segment wrote it
    d0 = os.path.join(idx.paths.seg(segs[0]), "dictionary")
    rows = pa.concat_tables(
        [pq.read_table(f) for f in part_files(d0)]
    ).sort_by("term")
    for order in ("sorted", "unsorted"):
        for f in os.listdir(d0):
            os.remove(os.path.join(d0, f))
        tbl = rows
        if order == "unsorted":
            perm = np.random.default_rng(3).permutation(rows.num_rows)
            tbl = rows.take(pa.array(perm))
        path = os.path.join(d0, "part-00000.parquet")
        pq.write_table(tbl, path, row_group_size=16)
        with pq.ParquetFile(path) as pf:
            kept = _row_groups(pf, "term", sorted(terms))
            n_groups = pf.metadata.num_row_groups
        # sorted, few row groups can hold a query term; shuffled, each
        # spans most of the vocabulary and most are read
        assert (len(kept) < n_groups / 2) == (order == "sorted"), (
            order, len(kept), n_groups,
        )
        check()


def test_pinned_postings_reads_equal_spark_collects(spark, root, monkeypatch):
    """The coordinator route of a pinned snapshot reads its pruned
    postings from the part files with pyarrow: every kernel kind over
    idx.open_pit() returns exactly the rows of the same call over a
    Snapshot of the same tables as frames, which collects them through
    Spark. The positional index has 3 segments (one written by a
    maybe_merge round) and a tombstone generation; the fields=... index
    serves cross_fields and field-scoped query_string. The pinned calls
    read part files and collect nothing; the frame calls collect and
    read no part file."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from mario_spark import phrase as ph
    from mario_spark import qs, wand
    from mario_spark.merge import maybe_merge
    from mario_spark.wand import Snapshot, TermStats

    reads, collects = [], []
    real_read, real_collect = wand.read_postings, DataFrame.toPandas

    def read(files, terms):
        reads.append(terms)
        return real_read(files, terms)

    def collect(self):
        collects.append(self)
        return real_collect(self)

    monkeypatch.setattr(wand, "read_postings", read)
    monkeypatch.setattr(DataFrame, "toPandas", collect)

    def frames(pit: Snapshot) -> Snapshot:
        return Snapshot(
            pit.postings, TermStats(lambda: pit.terms.table), pit.n_docs,
            pit.avgdl, field_stats=pit.field_stats,
            deleted_docs=lambda: pit.deleted_docs, analyzers=pit.analyzers,
        )

    def check(pit: Snapshot, ops: dict) -> None:
        assert pit.postings_files
        spark_side = frames(pit)
        for name, op in ops.items():
            reads.clear()
            collects.clear()
            got = op(pit)
            assert reads and not collects, name
            reads.clear()
            want = op(spark_side)
            assert collects and not reads, name
            got, want = _canon(got), _canon(want)
            assert len(got) > 0, name
            pd.testing.assert_frame_equal(got, want, obj=name)

    pages = pages_df(spark, 320, seed=11, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    cat = Catalog(spark, root)
    idx = cat.create("route-2026-01-01t00-00-00z")
    idx.ingest(pages.filter(doc_num < 256), segment_docs=128, positions=True)
    for lo in (256, 288):
        idx.append(pages.filter((doc_num >= lo) & (doc_num < lo + 32)))
    merged = maybe_merge(idx, max_per_tier=2)
    assert merged in idx.paths.committed_segments()
    assert len(idx.paths.committed_segments()) == 3
    dfs = {r["term"]: r["df"] for r in idx.dictionary().collect()}
    words = ["the", "data", "web", "search", "index"]
    victim = min(
        (t for t in dfs if t not in words), key=lambda t: abs(dfs[t] - 100)
    )
    assert idx.delete_by_query([victim])["deleted"] > 50

    q = [(0, ["data", "web"]), (1, ["search", "index", "the"])]

    def simple_qs(s):
        return qs.search_simple_query_string(
            s, [(0, "data w0* | search"), (1, f'{victim} | "the web" ind*')], 20
        )

    check(idx.open_pit(), {
        "term": lambda s: s.search_terms(q, 20),
        "conjunctive": lambda s: s.search_terms(q, 20, conjunctive=True),
        "must_not": lambda s: s.search_terms(q, 20, must_not={0: ["the"]}),
        "filter": lambda s: s.search_terms(q, 20, filter_terms=["index"]),
        "min_should_match": lambda s: s.search_terms(
            q, 20, min_should_match=2
        ),
        "multiterm": lambda s: s.search_multiterm(
            [(0, "da"), (1, "se")], kind="prefix", k=20
        ),
        "phrase": lambda s: ph.search_phrase(
            s, [(0, ["the", "data"]), (1, ["web", "search"])], k=20
        ),
        "phrase_slop": lambda s: ph.search_phrase(
            s, [(0, ["data", "index"])], k=20, slop=2
        ),
        "phrase_prefix": lambda s: ph.search_phrase_prefix(
            s, [(0, ["the"], "da"), (1, [], "se")], k=20
        ),
        "span_or": lambda s: ph.search_span_or(
            s, [(0, [["the", "web"], ["index"]])], k=20
        ),
        "span_near_unordered": lambda s: ph.search_span_near_unordered(
            s, [(0, ["search", "data"])], k=20
        ),
        "span_not": lambda s: ph.search_span_not(
            s, [(0, ["the", "data"], "web")], k=20
        ),
        "span_first": lambda s: ph.search_span_first(
            s, [(0, ["the", "data"], 30)], k=20
        ),
        "span_contain": lambda s: ph.search_span_contain(
            s, [(0, "the", "data", 3, "web")], mode="containing", k=20
        ),
        "query_string": lambda s: s.search_query_string(
            [(0, '+data "the web" -crawl'), (1, 'index "search the"')], 20
        ),
        "simple_query_string": simple_qs,
    })
    # the simple_query_string group that only tombstoned docs match
    # (the victim term) returns none of them
    dele = {r["doc_id"] for r in idx.deleted_ids().collect()}
    got = simple_qs(idx.open_pit()).toPandas()
    assert len(got) > 0 and not set(got["doc_id"]) & dele

    fidx = cat.create("route-fields-2026-01-01t00-00-00z")
    fidx.ingest(
        pages.filter(doc_num < 256), segment_docs=128, positions=True,
        fields={"title": "title", "contents": "text"},
    )
    check(fidx.open_pit(), {
        "cross_fields": lambda s: s.search_cross_fields(
            [(0, "data web"), (1, "the search")],
            {"title": 2.0, "contents": 1.0}, k=20,
        ),
        "query_string_fields": lambda s: s.search_query_string(
            [(0, 'title:data "the web"')], 20, default_field="contents"
        ),
    })


def test_phrase_prefix_of_one_position_is_a_disjunction(spark, root):
    """A match_phrase_prefix with no fixed term (one analyzed token)
    has one position, so it scores as Lucene rewrites a one-position
    MultiPhraseQuery: the BM25 disjunction of its expansions, the rows
    of search_terms over them. In a batch it rides next to positional
    queries, whose rows it leaves unchanged."""
    from mario_spark import phrase as ph

    idx = Catalog(spark, root).create("one-2026-01-01t00-00-00z")
    idx.ingest(pages_df(spark, 200, seed=12, partitions=4), positions=True)
    pit = idx.open_pit()
    vocab = [r["term"] for r in idx.dictionary().collect()]
    # the first letter that starts the most terms
    pfx = max(
        sorted({t[0] for t in vocab}),
        key=lambda p: sum(t.startswith(p) for t in vocab),
    )
    exps = pit.terms.prefix_windows([pfx])[pfx]
    assert len(exps) > 3
    for max_exp in (3, 50):
        got = _canon(
            ph.search_phrase_prefix(pit, [(0, [], pfx)], 10, max_exp)
        )
        want = _canon(pit.search_terms([(0, exps[:max_exp])], 10))
        assert len(got) > 0
        pd.testing.assert_frame_equal(got, want)
    both = ph.search_phrase_prefix(
        pit, [(0, ["the"], "da"), (1, [], pfx)], 10
    )
    got = _canon(both)
    pd.testing.assert_frame_equal(
        got[got["query_id"] == 1].reset_index(drop=True),
        _canon(pit.search_terms([(1, exps[:50])], 10)),
    )
    pd.testing.assert_frame_equal(
        got[got["query_id"] == 0].reset_index(drop=True),
        _canon(ph.search_phrase_prefix(pit, [(0, ["the"], "da")], 10)),
    )
    assert (got["query_id"] == 0).any()


def test_postings_reads_prune_row_groups(spark, root, monkeypatch):
    """localread.read_postings equals the Spark scan it replaces. New
    postings part files are sorted by term (postings.encode_tf_rows),
    so after a segment's postings are rewritten in 16-row groups its
    row-group statistics skip most of them; a shuffled (unsorted) copy
    is read whole with the same rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mario_spark import localread
    from mario_spark.localread import part_files, read_postings

    idx = Catalog(spark, root).create("prune-2026-01-01t00-00-00z")
    idx.ingest(pages_df(spark, 300, seed=13, partitions=4), segment_docs=128)
    segs = idx.paths.committed_segments()
    assert len(segs) == 3
    files = idx.open_pit().postings_files
    for f in files:
        t = f.read(columns=["term"]).column("term").to_pylist()
        assert t == sorted(t), f
    dfs = sorted(
        (r["df"], r["term"]) for r in idx.dictionary([segs[0]]).collect()
    )
    terms = ["zz-not-a-term"] + [t for _, t in dfs[len(dfs) // 2:][:4]]
    key = ["term", "dbucket", "block_id"]

    def canon(pdf):
        return pdf.sort_values(key, ignore_index=True)

    want = canon(
        idx.postings().filter(F.col("term").isin(terms)).toPandas()
    )
    assert len(want) > 0
    got = canon(read_postings(files, terms))
    assert list(got.dtypes) == list(want.dtypes)
    pd.testing.assert_frame_equal(got, want)

    kept = []
    real = localread._row_groups

    def row_groups(pf, column, keys):
        out = real(pf, column, keys)
        kept.append((len(out), pf.metadata.num_row_groups))
        return out

    monkeypatch.setattr(localread, "_row_groups", row_groups)
    p0 = os.path.join(idx.paths.seg(segs[0]), "postings")
    rows = pa.concat_tables(
        [pq.read_table(f) for f in part_files(p0)]
    ).sort_by("term")
    for order in ("sorted", "unsorted"):
        for f in os.listdir(p0):
            os.remove(os.path.join(p0, f))
        tbl = rows
        if order == "unsorted":
            perm = np.random.default_rng(3).permutation(rows.num_rows)
            tbl = rows.take(pa.array(perm))
        pq.write_table(
            tbl, os.path.join(p0, "part-00000.parquet"), row_group_size=16
        )
        kept.clear()
        got = canon(read_postings(idx.open_pit().postings_files, terms))
        pd.testing.assert_frame_equal(got, want, obj=order)
        ((n_kept, n_groups),) = [
            kn for kn in kept if kn[1] == -(-rows.num_rows // 16)
        ]
        # sorted, few row groups can hold a query term; shuffled, each
        # spans most of the postings' terms and most are read
        assert (n_kept < n_groups / 2) == (order == "sorted"), (
            order, n_kept, n_groups,
        )
