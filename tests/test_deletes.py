"""Delete-by-query tombstones + purging compaction (Lucene live-docs
semantics): deleted docs vanish from results immediately while stats
stay stale; a purging compaction physically drops them, recomputes
df/n_docs/avgdl, and retires the tombstones."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mario_spark import query
from mario_spark.docs import build_doc_table
from mario_spark.fixtures import (
    make_pages_query_set,
    pages_df,
    query_terms_df,
)
from mario_spark.index import Catalog
from mario_spark.merge import compact_segments, decode_to_tf_rows


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "catalog")


def test_delete_by_query_then_purge(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 600, seed=5, partitions=4)
    idx = cat.create("pages-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=256)
    qset = make_pages_query_set(seed=5, n=8)
    q = query_terms_df(spark, qset)

    res = idx.delete_by_query(["crawl"])
    assert res["deleted"] > 0
    deleted = {r["doc_id"] for r in idx.deleted_ids().collect()}
    assert idx.stats()["n_deleted"] == len(deleted)

    # idempotent: the same query tombstones nothing new
    assert idx.delete_by_query(["crawl"])["deleted"] == 0

    # Lucene contract: results = stale-stats exhaustive ranking with
    # tombstoned docs removed and ranks recomputed
    d = build_doc_table(pages).persist()
    full = (
        query.search_exhaustive(d, q, k=600)
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    exp = full[~full["doc_id"].isin(deleted)].copy()
    exp["rank"] = exp.groupby("query_id").cumcount() + 1
    exp = exp[exp["rank"] <= 10].reset_index(drop=True)
    got = _canon(idx.search(q, k=10))
    pd.testing.assert_frame_equal(
        got,
        exp[["query_id", "rank", "doc_id", "score"]].astype(got.dtypes),
        check_exact=False,
        atol=1e-9,
    )
    # and the tombstoned docs truly never surface
    assert not set(got["doc_id"]).intersection(deleted)

    # multi-term paths respect tombstones too: every 'crawl' doc is
    # tombstoned, so a prefix query that expands only to 'crawl'
    # returns nothing
    assert idx.search_multiterm([(0, "craw")], kind="prefix").count() == 0

    # a warm session opened now masks the same tombstones on the driver
    # fast path (default) and the distributed path (driver_limit=0)
    sess = idx.open_session().warm()
    for kw in ({}, {"driver_limit": 0}):
        pd.testing.assert_frame_equal(
            _canon(sess.search(qset, k=10, **kw)), got,
            check_exact=False, atol=1e-9,
        )
    assert sess.search_multiterm([(0, "craw")], kind="prefix").count() == 0
    sess.close()

    # ---- purging compaction
    n_before = idx.stats()["n_docs"]
    compact_segments(idx)  # purge_deletes=True
    st = idx.stats()
    assert st["n_deleted"] == 0
    assert st["n_docs"] == n_before - len(deleted)
    assert idx.deleted_ids() is None

    # postings physically contain no tombstoned doc
    live_ids = {
        r["doc_id"]
        for r in decode_to_tf_rows(idx.postings())
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert not live_ids.intersection(deleted)

    # post-purge scoring == a fresh build over the survivors (df and
    # collection stats recomputed, doc ids preserved)
    d_surv = d.filter(~F.col("doc_id").isin(list(deleted))).persist()
    want = _canon(query.search_exhaustive(d_surv, q, k=10))
    got2 = _canon(idx.search(q, k=10))
    pd.testing.assert_frame_equal(got2, want, check_exact=False, atol=1e-9)
    d.unpersist()
    d_surv.unpersist()


def test_field_index_multiterm_and_delete_by_query(spark, root):
    """Field-scoped wiring of the multi-term and delete paths:

    - search_multiterm(field=...) expands the pattern against THAT
      field's vocabulary slice and must score identically to a
      search_field query over the expanded term set (same OR-sum BM25);
    - delete_by_query on a fields=... index tombstones docs matching
      the bare term in ANY field (ES semantics: an unqualified term
      searches all mapped fields), verified against an independent
      tokenize pass;
    - search_field and the field multiterm path both mask tombstones.
    """
    from mario_spark import fields as fieldsmod
    from mario_spark.index import Catalog

    cat = Catalog(spark, root)
    pages = pages_df(spark, 400, seed=7, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    idx = cat.create("fm-2026-01-01t00-00-00z")
    idx.ingest(
        pages, segment_docs=256, fields={"title": "title", "contents": "text"}
    )

    # -------- multiterm: prefix expansion == explicit OR over the
    # field vocabulary (expansion recomputed in-test from the dictionary)
    vocab = sorted(
        r["term"][len("title:"):]
        for r in idx.dictionary().collect()
        if r["term"].startswith("title:")
    )
    prefix = vocab[len(vocab) // 2][:3]
    expanded = sorted({t for t in vocab if t.startswith(prefix)})
    assert expanded, "fixture vocabulary must produce a non-empty expansion"
    want = _canon(idx.search_field("title", [(0, " ".join(expanded))], k=10))
    got = _canon(
        idx.search_multiterm([(0, prefix)], kind="prefix", field="title")
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)

    # wildcard over the contents field agrees with its own expansion
    cvocab = sorted(
        r["term"][len("contents:"):]
        for r in idx.dictionary().collect()
        if r["term"].startswith("contents:")
    )
    cpfx = cvocab[len(cvocab) // 3][:2]
    cexp = sorted({t for t in cvocab if t.startswith(cpfx)})
    want_c = _canon(idx.search_field("contents", [(0, " ".join(cexp))], k=10))
    got_c = _canon(
        idx.search_multiterm([(0, cpfx + "*")], kind="wildcard", field="contents")
    )
    pd.testing.assert_frame_equal(got_c, want_c, check_exact=False, atol=1e-9)

    with pytest.raises(ValueError, match="field-scoped"):
        idx.search_multiterm([(0, "craw")], kind="prefix")  # no field=
    with pytest.raises(ValueError, match="unknown field"):
        idx.search_multiterm([(0, "craw")], kind="prefix", field="nope")

    # -------- delete_by_query: bare term matches ANY field
    term = "crawl"
    fd = fieldsmod.build_field_doc_table(
        pages, {"title": F.col("title"), "contents": F.col("text")}
    )
    expect_deleted = {
        r["doc_id"]
        for r in fd.filter(F.map_contains_key("tf_map", term))
        .select("doc_id")
        .distinct()
        .collect()
    }
    res = idx.delete_by_query([term])
    assert res["deleted"] == len(expect_deleted) > 0
    got_deleted = {r["doc_id"] for r in idx.deleted_ids().collect()}
    assert got_deleted == expect_deleted

    # both field-scoped query paths mask the tombstones
    hits = _canon(idx.search_field("contents", [(0, term)], k=400))
    assert not set(hits["doc_id"]).intersection(expect_deleted)
    assert hits.empty  # every doc containing the term was tombstoned
    mt = _canon(
        idx.search_multiterm([(0, term[:4])], kind="prefix", field="contents")
    )
    assert not set(mt["doc_id"]).intersection(expect_deleted)

    # -------- purging compaction recomputes per-field stats from the
    # surviving postings' own len stream (the docs table stores no
    # per-field lengths) — post-purge == a fresh field build over the
    # survivors, verified via the ad-hoc fields.py path on the same
    # pinned doc ids
    n_before = idx.stats()["n_docs"]
    compact_segments(idx)  # purge_deletes=True
    st = idx.stats()
    assert st["n_deleted"] == 0
    assert st["n_docs"] == n_before - len(expect_deleted)
    assert idx.deleted_ids() is None

    surv_fd = fd.filter(
        ~F.col("doc_id").isin([int(i) for i in expect_deleted])
    ).persist()
    want_fs = {
        r["field"]: r for r in fieldsmod.field_stats(surv_fd).collect()
    }
    ifs = idx.field_stats()
    for f in ("title", "contents"):
        assert ifs[f]["n_docs"] == want_fs[f]["n_docs"]
        assert abs(ifs[f]["avgdl"] - want_fs[f]["avgdl"]) < 1e-9

    post2, dic2, _ = fieldsmod.build_field_postings(
        surv_fd, idx.stats()["n_docs"]
    )
    from mario_spark.wand import Snapshot, TermStats

    probe = [(0, " ".join(cexp[:3]))]
    fsnap = Snapshot(
        post2, TermStats(lambda: dic2), idx.stats()["n_docs"], 0.0,
        field_stats={
            f: (r["n_docs"], r["avgdl"]) for f, r in want_fs.items()
        },
    )
    want_q = _canon(fsnap.search(probe, k=10, field="contents"))
    got_q = _canon(idx.search_field("contents", probe, k=10))
    pd.testing.assert_frame_equal(got_q, want_q, check_exact=False, atol=1e-9)
    surv_fd.unpersist()


def test_upsert_replaces_same_url(spark, root):
    cat = Catalog(spark, root)
    pages = pages_df(spark, 400, seed=7, partitions=4)
    idx = cat.create("pages-2026-01-02t00-00-00z")
    idx.ingest(pages, segment_docs=256)
    n0 = idx.stats()["n_docs"]

    # re-ingest 40 docs with new text: same urls must be REPLACED
    batch = (
        pages.orderBy("url")
        .limit(40)
        .withColumn("text", F.concat(F.lit("zzzupsert marker "), F.col("text")))
    )
    st = idx.upsert(batch)
    assert st["replaced"] == 40
    assert st["n_deleted"] == 40
    assert st["n_docs"] == n0 + 40  # old versions purge later, at compaction

    # visible corpus: one live version per url
    docs = idx.docs().join(idx.deleted_ids(), "doc_id", "left_anti")
    assert docs.count() == n0
    assert docs.select("url").distinct().count() == n0

    # the new versions are searchable, the old ones are not: every hit
    # for the marker term is a replacement doc, and exactly the 40
    # replaced urls match
    q = query_terms_df(spark, [(0, "zzzupsert")])
    hits = idx.search(q, k=100).join(idx.docs(), "doc_id")
    assert hits.count() == 40
    burls = {r["url"] for r in batch.select("url").collect()}
    assert {r["url"] for r in hits.select("url").collect()} == burls

    # idempotent convergence: a second identical upsert replaces the
    # first batch's copies, still one live version per url
    st2 = idx.upsert(batch)
    assert st2["replaced"] == 40
    live = idx.docs().join(idx.deleted_ids(), "doc_id", "left_anti")
    assert live.count() == n0
    assert idx.search(q, k=100).count() == 40

    # purging compaction drops the replaced versions physically
    compact_segments(idx)
    st3 = idx.stats()
    assert st3["n_deleted"] == 0
    assert st3["n_docs"] == n0
    assert idx.search(q, k=100).count() == 40


def test_mget_live_docs_semantics(spark, root):
    """_mget by url: requested docs come back with stored fields;
    tombstoned versions are invisible (after an upsert exactly the
    newest version of each url returns)."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 300, seed=9, partitions=4)
    idx = cat.create("pages-2026-01-03t00-00-00z")
    idx.ingest(pages, segment_docs=256)

    urls = [r["url"] for r in pages.orderBy("url").limit(5).collect()]
    got = idx.mget(urls).toPandas()
    assert sorted(got["url"]) == sorted(urls)
    assert set(got.columns) == {"doc_id", "url", "lang", "len"}

    # upsert one of them: mget returns ONE row for that url (the new
    # version, with its new doc_id and new length)
    batch = (
        pages.filter(F.col("url") == urls[0])
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra words here")))
    )
    old_row = got[got["url"] == urls[0]].iloc[0]
    idx.upsert(batch)
    got2 = idx.mget(urls).toPandas()
    assert len(got2) == 5
    row = got2[got2["url"] == urls[0]].iloc[0]
    assert row["doc_id"] != old_row["doc_id"]
    assert row["len"] == old_row["len"] + 3


def test_search_template_renders_and_matches_direct(spark, root):
    """Stored search template: CAS-registered source, strict {{param}}
    binding, and execution identical to the directly-written
    query_string batch."""
    cat = Catalog(spark, root)
    pages = pages_df(spark, 300, seed=13, partitions=4)
    idx = cat.create("pages-2026-01-04t00-00-00z")
    idx.ingest(pages, segment_docs=256, positions=True)

    cat.put_search_template("find", '+{{must}} "{{p1}} {{p2}}" -{{not}}')
    src = cat.get_search_template("find")
    assert cat.render_search_template(
        src, {"must": "a", "p1": "b", "p2": "c", "not": "d"}
    ) == '+a "b c" -d'
    with pytest.raises(ValueError, match="unbound template params"):
        cat.render_search_template(src, {"must": "a"})

    # pick real corpus words so the search returns hits
    words = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df")).limit(4).collect()
    ]
    params = {"must": words[0], "p1": words[1], "p2": words[2], "not": words[3]}
    got = _canon(
        cat.search_template(
            "pages-2026-01-04t00-00-00z", "find", [(0, params)], k=10
        )
    )
    direct = _canon(
        idx.search_query_string(
            [(0, f'+{words[0]} "{words[1]} {words[2]}" -{words[3]}')], k=10
        )
    )
    pd.testing.assert_frame_equal(got, direct)
    assert len(got) > 0


def test_purging_compaction_retires_only_what_it_purged(
    spark, root, monkeypatch
):
    """A delete that commits while a purging compaction runs (after the
    compaction read the tombstone generations, before it retires them)
    stays live: the compaction retires only the generations it purged,
    n_deleted counts the survivor's docs, and they stay out of
    search."""
    from mario_spark.index import Index

    cat = Catalog(spark, root)
    idx = cat.create("race-2026-01-01t00-00-00z")
    idx.ingest(pages_df(spark, 400, seed=9, partitions=4), segment_docs=200)
    by_df = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df"), "term").limit(40)
        .collect()
    ]
    purged = idx.delete_by_query([by_df[30]])["deleted"]
    assert purged > 0
    late_term = by_df[10]
    late: dict = {}
    clear = Index.clear_deletes

    def delete_then_clear(self, *args, **kwargs):
        # commits between the compaction's read and its retire
        late.update(idx.delete_by_query([late_term]))
        return clear(self, *args, **kwargs)

    monkeypatch.setattr(Index, "clear_deletes", delete_then_clear)
    n_before = idx.stats()["n_docs"]
    compact_segments(idx)
    monkeypatch.undo()

    assert late["deleted"] > 0
    st = idx.stats()
    assert st["n_docs"] == n_before - purged
    assert st["n_deleted"] == late["deleted"]
    late_ids = {r["doc_id"] for r in idx.deleted_ids().collect()}
    assert len(late_ids) == late["deleted"]
    q = query_terms_df(spark, [(0, f"{late_term} {by_df[20]}")])
    got = {r["doc_id"] for r in idx.search(q, k=400).collect()}
    assert got and not got & late_ids


def test_positional_operators_read_the_pinned_snapshot(spark, root):
    """Every positional operator over idx.open_pit() (the unaggregated
    segment dictionaries, read on the driver, and the tombstone part
    files) returns exactly the rows of the same operator over a
    Snapshot of the aggregated Index.dictionary() frame and the same
    tombstone frame: df is summed over every segment on both, and no
    tombstoned doc appears in any result, though the unmasked results
    hold some."""
    from mario_spark import phrase as ph
    from mario_spark.wand import Snapshot, TermStats

    cat = Catalog(spark, root)
    idx = cat.create("pin-2026-01-01t00-00-00z")
    idx.ingest(
        pages_df(spark, 300, seed=11, partitions=4),
        segment_docs=128, positions=True,
    )
    assert len(idx.paths.committed_segments()) == 3
    words = ["the", "data", "web", "search", "index"]
    dfs = {r["term"]: r["df"] for r in idx.dictionary().collect()}
    # a mid-df term: it tombstones a share of every operator's matches
    victim = min(
        (t for t in dfs if t not in words), key=lambda t: abs(dfs[t] - 100)
    )
    assert idx.delete_by_query([victim])["deleted"] > 50
    gone = {r["doc_id"] for r in idx.deleted_ids().collect()}

    pit = idx.open_pit()
    assert pit.terms.files and pit.deleted_files
    frames = Snapshot(
        pit.postings, TermStats(lambda: idx.dictionary()), pit.n_docs,
        pit.avgdl, deleted_docs=lambda: idx.deleted_ids(),
    )
    unmasked = Snapshot(
        pit.postings, TermStats(lambda: idx.dictionary()), pit.n_docs,
        pit.avgdl,
    )
    ops = {
        "phrase": lambda s: ph.search_phrase(
            s, [(0, ["the", "data"]), (1, ["web", "search"])], k=20
        ),
        "phrase_slop": lambda s: ph.search_phrase(
            s, [(0, ["data", "index"])], k=20, slop=2
        ),
        "phrase_prefix": lambda s: ph.search_phrase_prefix(
            s, [(0, ["the"], "da"), (1, ["web"], "s"), (2, ["the"], "zzq")],
            k=20,
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
        "span_containing": lambda s: ph.search_span_contain(
            s, [(0, "the", "data", 3, "web")], mode="containing", k=20
        ),
        "span_within": lambda s: ph.search_span_contain(
            s, [(0, "the", "data", 3, "web")], mode="within", k=20
        ),
    }
    for name, op in ops.items():
        got = _canon(op(pit))
        assert len(got) > 0, name
        pd.testing.assert_frame_equal(got, _canon(op(frames)), obj=name)
        assert not set(got["doc_id"]) & gone, name
        assert set(_canon(op(unmasked))["doc_id"]) & gone, name
