"""Incremental append (mario's default ingest path): appended segments
must be grid-aligned, doc-disjoint, and the combined index must score
exactly like an exhaustive scorer over the combined doc table."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mario_spark import query
from mario_spark.docs import build_doc_table
from mario_spark.fixtures import make_pages_query_set, pages_df, query_terms_df
from mario_spark.index import Catalog


def _canon(df):
    return df.toPandas().sort_values(["query_id", "rank"], ignore_index=True)


def test_append_matches_exhaustive(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 600, seed=21, partitions=4).persist()
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    first = pages.filter(doc_num < 400)
    second = pages.filter(doc_num >= 400)

    idx = cat.create("app-2026-01-01t00-00-00z")
    idx.ingest(first, segment_docs=256)
    st1 = idx.stats()
    assert st1["n_docs"] == 400

    st2 = idx.append(second)
    assert st2["n_docs"] == 600
    assert st2["segments"] > st1["segments"]

    # appended segments are doc-disjoint and grid-aligned with the old
    meta_rw = 256  # segment_docs aligned to range_width picked at create
    docs_tbl = idx.docs()
    assert docs_tbl.count() == 600
    assert docs_tbl.select("doc_id").distinct().count() == 600

    # search through the combined index == exhaustive over the SAME
    # doc table (ids taken from the index's own doc store)
    q = query_terms_df(spark, make_pages_query_set(seed=21, n=12))
    got = _canon(idx.search(q, k=10))

    combined = (
        idx.docs()
        .select("doc_id", "url")
        .join(pages.select("url", "lang", "text"), "url")
    )
    d = build_doc_table(combined).persist()
    # exhaustive scorer must use the index's own global stats
    st = idx.stats()
    from mario_spark.docs import corpus_stats

    want = _canon(query.search_exhaustive(d, q, k=10))
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    d.unpersist()
    pages.unpersist()


def test_append_to_empty_is_ingest(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 150, seed=22, partitions=2)
    idx = cat.create("fresh-2026-01-01t00-00-00z")
    st = idx.append(pages)
    assert st["n_docs"] == 150


def test_ingest_from_html_extraction_matches_text(spark, tmp_path):
    """The per-row fidelity invariant end-to-end: building the index
    from the html column (extract_html=True) must produce the exact
    index built from the ground-truth text column, because
    extract(html) == text byte-identically on the synthetic corpus."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 300, seed=31, partitions=4).persist()

    a = cat.create("text-2026-01-01t00-00-00z")
    a.ingest(pages.drop("html"))
    b = cat.create("html-2026-01-01t00-00-00z")
    b.ingest(pages.drop("text"), extract_html=True)

    pa = a.postings().toPandas().sort_values(
        ["term", "dbucket", "block_id"], ignore_index=True
    )
    pb = b.postings().toPandas().sort_values(
        ["term", "dbucket", "block_id"], ignore_index=True
    )
    pd.testing.assert_frame_equal(pa, pb)
    pages.unpersist()


def test_tiered_merge_policy(spark, tmp_path, monkeypatch):
    """Tiered merge selection: four small appended segments in the same
    size tier merge into one (the big base segment stays untouched);
    selection lists the segments once and reads each commit marker
    once; results are rank-identical before/after; a second round is a
    no-op."""
    import collections
    import os

    from mario_spark import index as indexmod
    from mario_spark import merge as mergemod
    from mario_spark.index import IndexPaths
    from mario_spark.merge import maybe_merge, select_tiered_merge

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 680, seed=27, partitions=4).persist()
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")

    idx = cat.create("tier-2026-01-01t00-00-00z")
    idx.ingest(pages.filter(doc_num < 600), segment_docs=1024)
    for i in range(4):  # four ~20-doc appends -> same low tier
        idx.append(
            pages.filter((doc_num >= 600 + 20 * i) & (doc_num < 620 + 20 * i))
        )
    segs_before = idx.paths.committed_segments()
    assert len(segs_before) == 5

    counts: collections.Counter = collections.Counter()
    listing, read_json = IndexPaths.committed_markers, indexmod._read_json

    def counted_listing(self):
        counts["listings"] += 1
        return listing(self)

    def counted_read(path):
        counts[os.path.basename(path)] += 1
        return read_json(path)

    with monkeypatch.context() as m:
        m.setattr(IndexPaths, "committed_markers", counted_listing)
        m.setattr(indexmod, "_read_json", counted_read)
        m.setattr(mergemod, "_read_json", counted_read)
        sel = select_tiered_merge(idx, max_per_tier=4, tier_factor=10.0)
    assert counts["listings"] == 1, counts
    assert counts["_seg.json"] == len(segs_before), counts
    assert sel is not None and len(sel) == 4
    big = segs_before[0]
    assert big not in sel  # the 600-doc segment is in a higher tier

    q = query_terms_df(spark, make_pages_query_set(seed=27, n=10))
    before = _canon(idx.search(q, k=10))

    new_id = maybe_merge(idx, max_per_tier=4, tier_factor=10.0)
    assert new_id is not None
    segs_after = idx.paths.committed_segments()
    assert len(segs_after) == 2 and big in segs_after

    idx2 = cat.open("tier-2026-01-01t00-00-00z")
    after = _canon(idx2.search(q, k=10))
    pd.testing.assert_frame_equal(before, after)

    # no tier is over-full any more
    assert select_tiered_merge(idx2, max_per_tier=4, tier_factor=10.0) is None


def test_pit_search_is_snapshot_stable(spark, tmp_path):
    """ES point-in-time contract: a search through a PIT handle opened
    before an append + delete returns the exact pre-mutation results,
    while a plain search sees the mutations."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 400, seed=31, partitions=4).persist()
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    idx = cat.create("pit-2026-01-01t00-00-00z")
    idx.ingest(pages.filter(doc_num < 300), segment_docs=256)

    q = query_terms_df(spark, make_pages_query_set(seed=31, n=8))
    pit = idx.open_pit()
    before = _canon(idx.search(q, k=10))

    # mutate: append 100 docs, then tombstone every doc holding the
    # first query's first term (delete_by_query)
    idx.append(pages.filter(doc_num >= 300))
    qset = make_pages_query_set(seed=31, n=8)
    victim_term = qset[0][1].split()[0].lower()
    idx.delete_by_query([victim_term])

    pinned = _canon(idx.search(q, k=10, pit=pit))
    pd.testing.assert_frame_equal(pinned, before, check_exact=False, atol=1e-9)

    live = _canon(idx.search(q, k=10))
    assert not live.equals(before)
    pages.unpersist()


def test_warm_session_snapshot_across_append_and_merge(spark, tmp_path):
    """A warmed QuerySession keeps serving its open-time snapshot while
    a segment append AND a tiered merge (which deletes the session's
    source segment files) land between two warm queries — byte-identical
    results, never a torn mix. Seeing the new data is an explicit
    refresh: a session opened after the merge serves exactly what the
    post-merge index serves (ES PIT semantics for warm serving)."""
    from mario_spark.merge import maybe_merge

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 680, seed=31, partitions=4).persist()
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")

    idx = cat.create("sess-2026-01-01t00-00-00z")
    idx.ingest(pages.filter(doc_num < 600), segment_docs=1024)
    for i in range(3):  # three small same-tier appends (one shy of merge)
        idx.append(
            pages.filter((doc_num >= 600 + 20 * i) & (doc_num < 620 + 20 * i))
        )

    sess = idx.open_session().warm()
    queries = make_pages_query_set(seed=31, n=10)
    before = _canon(sess.search(queries, k=10))
    assert len(before) > 0

    # append + tiered merge land between the two warm queries; the
    # merge rewrites the four small segments and DELETES their files
    segs_before = idx.paths.committed_segments()
    idx.append(pages.filter((doc_num >= 660) & (doc_num < 680)))
    assert maybe_merge(idx, max_per_tier=4, tier_factor=10.0) is not None
    assert idx.paths.committed_segments() != segs_before

    again = _canon(sess.search(queries, k=10))
    pd.testing.assert_frame_equal(before, again)  # old snapshot, intact

    # the driver fast path and the distributed path agree on the
    # snapshot too (driver_limit=0 forces the distributed kernel)
    dist = _canon(sess.search(queries, k=10, driver_limit=0))
    pd.testing.assert_frame_equal(before, dist)

    # refresh: a session opened NOW serves the post-merge truth
    idx2 = cat.open("sess-2026-01-01t00-00-00z")
    fresh = idx2.open_session().warm()
    want = _canon(
        idx2.search(query_terms_df(spark, queries), k=10)
    )
    got = _canon(fresh.search(queries, k=10))
    pd.testing.assert_frame_equal(got, want)
    # the appended docs are visible only through the refreshed session
    assert not before.equals(got)
    sess.postings.unpersist()
    fresh.postings.unpersist()
    pages.unpersist()


def test_pit_survives_a_merge_that_removes_its_segments(spark, tmp_path):
    """A PIT holds its part files open from pin time, so a tiered merge
    that rewrites four of its five segments and DELETES their files
    leaves it readable: its term, phrase, query_string and anchored
    multi-term searches return exactly their pre-merge rows (Lucene
    keeps a merged-away file until its last reader closes)."""
    import os

    from mario_spark.merge import maybe_merge

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 680, seed=31, partitions=4).persist()
    doc_num = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    idx = cat.create("pit-2026-01-01t00-00-00z")
    idx.ingest(pages.filter(doc_num < 600), segment_docs=1024, positions=True)
    for i in range(4):  # four small same-tier appends: one merge's worth
        idx.append(
            pages.filter((doc_num >= 600 + 20 * i) & (doc_num < 620 + 20 * i))
        )

    queries = make_pages_query_set(seed=31, n=10)
    calls = {
        "search": lambda s: s.search(queries, k=10),
        "search_phrase": lambda s: s.search_phrase(
            [(0, "the data"), (1, "web search"), (2, "search index")], k=10
        ),
        "search_query_string": lambda s: s.search_query_string(
            [(0, 'data "the web" -crawl'), (1, '+index "web search"')], k=10
        ),
        "search_multiterm": lambda s: s.search_multiterm(
            [(0, "dat"), (1, "w001")], kind="prefix", k=10
        ),
    }
    with idx.open_pit() as pit:
        assert len(pit.segments) == 5
        before = {name: _canon(call(pit)) for name, call in calls.items()}
        assert all(len(rows) > 0 for rows in before.values()), before
        merged = maybe_merge(idx, max_per_tier=4, tier_factor=10.0)
        assert merged is not None
        gone = sorted(set(pit.segments) - set(idx.paths.committed_segments()))
        assert len(gone) == 4
        assert not any(os.path.exists(idx.paths.seg(s)) for s in gone)
        for name, call in calls.items():
            pd.testing.assert_frame_equal(_canon(call(pit)), before[name])
    # leaving the block closes every part file the pin held
    held = pit.postings_files + pit.terms.files
    assert held and all(pf.closed for pf in held)
    pages.unpersist()


def test_cold_search_lists_segments_and_reads_deletes_once(
    spark, tmp_path, monkeypatch
):
    """Each cold search pins ONE snapshot: one listing of the committed
    segments (every marker read once) and one read of the deletes
    marker. Reading them again mid-call would let an append or merge
    that commits in between make n_docs/avgdl disagree with the
    postings and df the call scores (a torn read)."""
    import collections
    import os

    from mario_spark import index as indexmod
    from mario_spark.index import IndexPaths

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 300, seed=41, partitions=4).withColumn(
        "title", F.substring("text", 1, 48)
    )
    plain = cat.create("plain-2026-01-01t00-00-00z")
    plain.ingest(pages, positions=True, segment_docs=128)
    fielded = cat.create("fielded-2026-01-01t00-00-00z")
    fielded.ingest(
        pages, positions=True, segment_docs=128,
        fields={"title": "title", "contents": "text"},
    )
    terms = [
        r["term"]
        for r in plain.dictionary().orderBy(F.desc("df"), "term").limit(30)
        .collect()
    ]
    for idx in (plain, fielded):
        assert idx.delete_by_query([terms[25]])["deleted"] > 0
    a, b = terms[10], terms[20]
    q = f"{a} {b}"

    counts: collections.Counter = collections.Counter()
    listing, read_json = IndexPaths.committed_markers, indexmod._read_json

    def counted_listing(self):
        counts["listings"] += 1
        return listing(self)

    def counted_read(path):
        counts[os.path.basename(path)] += 1
        return read_json(path)

    calls = {
        "search": (
            plain, lambda: plain.search(query_terms_df(spark, [(0, q)]))
        ),
        "search_phrase": (plain, lambda: plain.search_phrase([(0, q)])),
        "search_query_string": (
            plain, lambda: plain.search_query_string([(0, f'{a} "{q}"')])
        ),
        "search_field": (
            fielded, lambda: fielded.search_field("contents", [(0, q)])
        ),
    }
    for name, (idx, call) in calls.items():
        n_segs = len(idx.paths.committed_segments())
        assert n_segs > 1
        counts.clear()
        with monkeypatch.context() as m:
            m.setattr(IndexPaths, "committed_markers", counted_listing)
            m.setattr(indexmod, "_read_json", counted_read)
            call().collect()
        assert counts["listings"] == 1, (name, counts)
        assert counts["_seg.json"] == n_segs, (name, counts)
        assert counts["_deletes.json"] == 1, (name, counts)


def test_hybrid_search_reads_one_snapshot(spark, tmp_path, monkeypatch):
    """search_hybrid's lexical and dense arms read ONE pinned Snapshot:
    one committed-segment listing and one deletes-marker read per
    call, so a commit between the arms cannot make them mask different
    tombstones or read different segments."""
    import collections
    import os

    from mario_spark import index as indexmod
    from mario_spark.index import IndexPaths

    cat = Catalog(spark, str(tmp_path / "cat"))
    pages = pages_df(spark, 300, seed=43, partitions=4).withColumn(
        "embedding",
        F.array(
            (F.abs(F.hash("url")) % 97 + 1).cast("double"),
            (F.abs(F.hash("text")) % 89 + 1).cast("double"),
        ),
    )
    idx = cat.create("hybrid-2026-01-01t00-00-00z")
    idx.ingest(pages, segment_docs=128, vector_col="embedding")
    terms = [
        r["term"]
        for r in idx.dictionary().orderBy(F.desc("df"), "term").limit(30)
        .collect()
    ]
    assert idx.delete_by_query([terms[25]])["deleted"] > 0

    counts: collections.Counter = collections.Counter()
    listing, read_json = IndexPaths.committed_markers, indexmod._read_json

    def counted_listing(self):
        counts["listings"] += 1
        return listing(self)

    def counted_read(path):
        counts[os.path.basename(path)] += 1
        return read_json(path)

    with monkeypatch.context() as m:
        m.setattr(IndexPaths, "committed_markers", counted_listing)
        m.setattr(indexmod, "_read_json", counted_read)
        rows = idx.search_hybrid(
            [(0, f"{terms[10]} {terms[20]}")], [(0, [3.0, 5.0])], k=10
        ).collect()
    assert rows
    assert counts["listings"] == 1, counts
    assert counts["_deletes.json"] == 1, counts
