"""Phrase queries (ES match_phrase) over positional postings.

Lucene text fields answer match_phrase out of the box; mario's mapping
(every `"type":"text"` field in
/root/reference/config/es_record_mappings.json) therefore contractually
exposes it. Round 1's block format stored no positions; this module
pairs with postings.POSTINGS_POS_SCHEMA (the parallel `poss` VByte
stream — Lucene's .pos file analogue) to answer phrases exactly.

Semantics (Lucene PhraseQuery, slop=0):
- A doc matches iff the terms occur at consecutive positions in order.
- phrase_tf = number of distinct start positions of the phrase.
- score = (Σ_t idf(t)) * tf_sat(phrase_tf, doc_len) — the phrase is
  scored as one pseudo-term whose idf is the sum of member idfs and
  whose tf is the phrase frequency, exactly Lucene's PhraseWeight.

Every positional operator here (phrase, phrase_prefix and the span_*
family) is a body over one wand.Snapshot, the reader every search goes
through: df comes from its TermStats (snap.terms), tombstones from
snap.deleted, and n_docs/avgdl from snap.scope. So an operator over a
pinned index (Index.open_pit), a warm QuerySession or a frame-built
Snapshot scores with the same statistics and masks the same docs.

Distributed shape = search_wand's: document-partitioned postings,
per-dbucket batch kernel (a phrase's candidate docs need ALL member
terms in the same dbucket — postings of one doc never straddle
buckets), bucket-local top-ks merged on the driver. The postings
scan is pruned to the phrase's terms (pushed filter), and the position
intersection runs only over docs that survive the doc-id intersection
of every member term with tombstones masked (_candidates) — the
classic prox-evaluation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mario_spark import codec
from mario_spark.analyze import tokenize_positions_udf
from mario_spark.docs import assign_doc_ids
from mario_spark.postings import decode_block_positions
from mario_spark.query import (
    RESULT_SCHEMA,
    bm25_contrib,
    bm25_contrib_np,
    bm25_idf,
)
from mario_spark.session import local_frame
from mario_spark.wand import (
    POSITIONAL_WEIGHT,
    Snapshot,
    _local_topk,
    _result_frame,
    df_to_idf,
    scatter_gather,
)


def positional_tf(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, term, tf, len, positions).

    One fused pandas-UDF pass; the map explode is JVM-side (no extra
    shuffle), mirroring docs.build_doc_table/query.term_frequencies.
    """
    d = documents
    if "doc_id" not in d.columns:
        d = assign_doc_ids(d)
    base = d.select(
        "doc_id", tokenize_positions_udf("text").alias("pm")
    ).withColumn(
        "len",
        F.aggregate(
            F.map_values("pm"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.size(x).cast("long"),
        ),
    )
    return base.select(
        "doc_id", "len", F.explode("pm").alias("term", "positions")
    ).select(
        "doc_id",
        "term",
        F.size("positions").cast("double").alias("tf"),
        "len",
        "positions",
    )


def positional_snapshot(
    documents: DataFrame, field_exprs: dict | None = None
) -> Snapshot:
    """A frame Snapshot of a positional index over documents(doc_id,
    text), no tombstones. With `field_exprs` ({field: Column}) it is the
    field-keyed twin (fields.build_field_doc_table, positions=True):
    `<field>:<term>` keys, each field's (n_docs, avgdl) in field_stats.
    The tf table, the postings and the dictionary are persisted."""
    from mario_spark import fields as fieldsmod
    from mario_spark.docs import corpus_stats
    from mario_spark.postings import (
        dictionary_from_postings,
        encode_tf_rows,
        pick_range_width,
    )
    from mario_spark.wand import TermStats

    fst = None
    if field_exprs:
        fdocs = fieldsmod.build_field_doc_table(
            documents, field_exprs, positions=True
        ).persist()
        fst = {
            r["field"]: (r["n_docs"], r["avgdl"])
            for r in fieldsmod.field_stats(fdocs).collect()
        }
        tf = fieldsmod.field_tf(fdocs)
        n_docs, avgdl = max(n for n, _ in fst.values()), 0.0
    else:
        tf = positional_tf(documents).persist()
        st = corpus_stats(tf.select("doc_id", "len").distinct()).collect()[0]
        n_docs, avgdl = st["n_docs"], st["avgdl"]
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    post = encode_tf_rows(tf, pick_range_width(n_docs, parallelism)).persist()
    dic = dictionary_from_postings(post).persist()
    return Snapshot(post, TermStats(lambda: dic), n_docs, avgdl, field_stats=fst)


class _PosTermData:
    """Fully decoded positional postings of one term in one dbucket."""

    __slots__ = ("ids", "lens", "pos_flat", "pos_starts")

    def __init__(self, rows: pd.DataFrame):
        ids_l, lens_l, pflat_l = [], [], []
        counts_l = []
        for r in rows.itertuples(index=False):
            tfs = codec.vbyte_decode(r.tfs).astype(np.int64)
            ids_l.append(codec.decode_doc_ids(r.doc_ids))
            lens_l.append(codec.vbyte_decode(r.lens).astype(np.float64))
            flat, _ = decode_block_positions(r.poss, tfs)
            pflat_l.append(flat)
            counts_l.append(tfs)
        self.ids = np.concatenate(ids_l)
        self.lens = np.concatenate(lens_l)
        self.pos_flat = np.concatenate(pflat_l)
        counts = np.concatenate(counts_l)
        self.pos_starts = np.concatenate(([0], np.cumsum(counts)))

    def positions_of(self, row_idx: int) -> np.ndarray:
        return self.pos_flat[
            self.pos_starts[row_idx] : self.pos_starts[row_idx + 1]
        ]


def _chain_match_count(
    term_pos: list[np.ndarray], n_terms: int, slop: int
) -> int:
    """Ordered-proximity matches: count start positions p0 of term 0
    from which a strictly-increasing chain p0 < p1 < ... < p_{n-1}
    (p_j a position of term j) exists with total displacement
    (p_{n-1} - p0) - (n-1) <= slop.

    Greedy minimal successors are optimal: picking the SMALLEST valid
    p_j at each step minimizes p_{n-1}, so a start matches iff the
    greedy chain satisfies the window. slop=0 reduces exactly to
    consecutive-positions phrase matching. Vectorized over all starts.
    """
    p0 = term_pos[0]
    cur = p0.astype(np.int64)
    alive = np.ones(cur.size, dtype=bool)
    for j in range(1, n_terms):
        pj = term_pos[j]
        idx = np.searchsorted(pj, cur + 1)
        ok = idx < pj.size
        alive &= ok
        cur = np.where(ok, pj[np.minimum(idx, pj.size - 1)], cur)
    win = (cur - p0 - (n_terms - 1)) <= slop
    return int(np.count_nonzero(alive & win))


def _pos_term_map(pdf: pd.DataFrame) -> dict[str, _PosTermData]:
    """One dbucket's positional postings, decoded per term."""
    return {
        t: _PosTermData(g.sort_values("block_id"))
        for t, g in pdf.groupby("term", sort=False)
    }


def _positional_gather(
    snap: Snapshot,
    scan_terms: list[str],
    queries: list[tuple],
    score_one,
    k: int,
    dfm: dict[str, int],
) -> DataFrame:
    """scatter_gather over `snap`'s postings of a per-query positional
    scorer: the kernel decodes the bucket's positional postings once,
    then score_one(tds, *query) -> (query_ids, doc_ids, scores) local
    top-k, or None, for every query of the batch. Callers drop the queries
    that cannot match and scan only the survivors' terms, so a batch
    with none left scans nothing and runs no job. A positional
    candidate weighs POSITIONAL_WEIGHT term candidates against the
    coordinator route's limit."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tds = _pos_term_map(pdf)
        hits = (score_one(tds, *q) for q in queries)
        return _result_frame([h for h in hits if h])

    return scatter_gather(
        snap, scan_terms, kernel, k, dfm, weight=POSITIONAL_WEIGHT
    )


def _candidates(
    term_tds: list[_PosTermData],
    deleted: np.ndarray | None,
    also: tuple[np.ndarray, ...] = (),
) -> tuple[np.ndarray, list[np.ndarray]]:
    """The candidate step of every positional kernel, in the classic
    prox-evaluation order: -> (doc ids, row index of those docs in each
    of `term_tds`). Candidates are the sorted doc ids every member term
    (and every extra sorted id array in `also`) holds, intersected
    rarest first, with tombstones masked before any position is
    read."""
    sets = sorted([td.ids for td in term_tds] + list(also), key=np.size)
    cand = sets[0]
    for ids in sets[1:]:
        if cand.size == 0:
            break
        cand = cand[np.isin(cand, ids, assume_unique=True)]
    if deleted is not None and cand.size:
        cand = cand[~np.isin(cand, deleted, assume_unique=True)]
    return cand, [np.searchsorted(td.ids, cand) for td in term_tds]


def _chain_doc_ptfs(
    tds: dict, qterms: list[str], deleted: np.ndarray | None, slop: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list]:
    """One chain against one dbucket: -> (doc_ids, ptf, len, row_idx
    per term) for its candidate docs (_candidates). ptf counts the
    starts admitted within `slop` (_chain_match_count) and is NOT yet
    filtered to > 0 — span composition needs the span positions, so
    callers that only need counts filter themselves."""
    if any(t not in tds for t in qterms):
        empty = np.array([], dtype=np.int64)
        return empty, empty.astype(np.float64), empty.astype(np.float64), []
    term_tds = [tds[t] for t in qterms]
    cand, rows_per_term = _candidates(term_tds, deleted)
    n_terms = len(term_tds)
    ptf = np.zeros(cand.size, dtype=np.float64)
    lens = np.zeros(cand.size, dtype=np.float64)
    for ci in range(cand.size):
        term_pos = [
            td.positions_of(int(rows_per_term[j][ci]))
            for j, td in enumerate(term_tds)
        ]
        ptf[ci] = _chain_match_count(term_pos, n_terms, slop)
        lens[ci] = float(term_tds[0].lens[int(rows_per_term[0][ci])])
    return cand, ptf, lens, rows_per_term


def _score_and_topk(qid, ids, ptf, dl, sum_idf, avgdl, k):
    """Shared PhraseWeight scoring tail: saturated pseudo-term tf."""
    keep = ptf > 0
    ids, ptf, dl = ids[keep], ptf[keep], dl[keep]
    if ids.size == 0:
        return None
    scores = bm25_contrib_np(sum_idf, ptf, dl, avgdl)
    return _local_topk(qid, ids, scores, k)


def search_phrase_prefix(
    snap: Snapshot,
    queries: list[tuple[int, list[str], str]],
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES match_phrase_prefix: `queries` is [(query_id, fixed_terms,
    last_prefix)]. The last position expands to the `max_expansions`
    alphabetically-first dictionary terms with the prefix (ES caps at
    50, selected in term-dictionary order — deterministic on both
    engines); a doc matches where the fixed terms run consecutively
    and the next token is any expansion. Scored as one pseudo-term
    (Lucene MultiPhraseWeight): idf = Σ idf(fixed) + Σ idf(expansions),
    tf = admitting-start count. Expansion is ONE TermStats answer for
    the batch's prefixes (TermStats.prefix_windows), which also primes
    the expansions' df; the kernel runs per dbucket like search_phrase:
    a doc matches at start p iff the fixed terms occur consecutively
    from p and the NEXT position holds any expansion term (the
    last-slot position set is the sorted union across expansion terms —
    Lucene MultiPhraseQuery's union postings view). An empty prefix
    expands to nothing. A query with no fixed term (a one-token
    match_phrase_prefix) has one position, so it scores as Lucene
    rewrites a one-position MultiPhraseQuery: the BM25 disjunction of
    its expansions (Snapshot.search_terms)."""
    _, n_docs, avgdl = snap.scope(None)
    windows = snap.terms.prefix_windows(sorted({p for *_, p in queries if p}))
    exps_of = {p: ts[:max_expansions] for p, ts in windows.items()}
    dfm = snap.terms.df(
        sorted(
            {t for _, ts, _ in queries for t in ts}
            | {t for ts in exps_of.values() for t in ts}
        )
    )
    idf_map = df_to_idf(dfm, n_docs)
    kq: list[tuple[int, list[str], list[str], float]] = []
    single: list[tuple[int, list[str]]] = []
    for qid, fixed, prefix in queries:
        exps = exps_of.get(prefix, [])
        if not fixed:
            single.append((qid, exps))
            continue
        # an OOV fixed member, or no expansion (ES), matches nothing
        if exps and all(t in idf_map for t in fixed):
            sum_idf = sum(idf_map[t] for t in fixed) + sum(
                idf_map[t] for t in exps
            )
            kq.append((qid, list(fixed), exps, sum_idf))
    needed = sorted({t for _, fx, ex, _ in kq for t in (*fx, *ex)})
    deleted = snap.deleted

    def score_one(tds, qid, fixed, exps, sum_idf):
        if any(t not in tds for t in fixed):
            return None
        exp_tds = [tds[t] for t in exps if t in tds]
        if not exp_tds:
            return None
        fixed_tds = [tds[t] for t in fixed]
        exp_union = np.unique(np.concatenate([td.ids for td in exp_tds]))
        cand, rows_fixed = _candidates(fixed_tds, deleted, (exp_union,))
        ptf = np.zeros(cand.size, dtype=np.float64)
        dl = np.zeros(cand.size, dtype=np.float64)
        for ci in range(cand.size):
            d = int(cand[ci])
            term_pos = [
                td.positions_of(int(rows_fixed[j][ci]))
                for j, td in enumerate(fixed_tds)
            ]
            last = []
            for td in exp_tds:
                i = int(np.searchsorted(td.ids, d))
                if i < td.ids.size and td.ids[i] == d:
                    last.append(td.positions_of(i))
            lp = np.sort(np.concatenate(last))
            ptf[ci] = _chain_match_count(term_pos + [lp], len(fixed) + 1, 0)
            dl[ci] = float(fixed_tds[0].lens[int(rows_fixed[0][ci])])
        return _score_and_topk(qid, cand, ptf, dl, sum_idf, avgdl, k)

    if not single:
        return _positional_gather(snap, needed, kq, score_one, k, dfm)
    terms = snap.search_terms(single, k)
    if not kq:
        return terms
    phrased = _positional_gather(snap, needed, kq, score_one, k, dfm)
    # both are local relations: collecting them runs no job
    return local_frame(
        snap.spark, phrased.collect() + terms.collect(), RESULT_SCHEMA
    )


def search_phrase(
    snap: Snapshot,
    phrase_queries: list[tuple[int, list[str]]],
    k: int = 10,
    slop: int = 0,
    field: str | None = None,
) -> DataFrame:
    """`snap`'s positional postings x phrases -> (query_id, rank,
    doc_id, score). The df of every member term comes from snap.terms,
    and snap's tombstones are masked with Lucene live-docs semantics: a
    tombstoned doc is masked out BEFORE local top-k, so it is replaced
    by the next-best, never just dropped from the page, while the stats
    keep counting it until compaction.

    `phrase_queries` is [(query_id, [ordered terms])]; terms must be in
    analyzer-output form (Snapshot.search_phrase analyzes raw text). On
    a fields=... snapshot pass `field`: the terms are keyed
    `<field>:<term>` and score with the field's statistics.

    Per bucket, each phrase scores as Lucene's PhraseWeight over its
    chain matches. slop > 0 = ordered proximity (ES span_near
    in_order=true; NOTE this deliberately deviates from match_phrase's
    sloppy-freq semantics, which also admits REORDERED terms once slop
    >= 2 — order is enforced here): terms must appear in query order
    within a window of len(terms) + slop positions; ptf counts the
    admitting starts.
    """
    snap.require_positions("match_phrase")
    pfx, n_docs, avgdl = snap.scope(field)
    phrase_queries = [(q, [pfx + t for t in ts]) for q, ts in phrase_queries]
    dfm = snap.terms.df(sorted({t for _, ts in phrase_queries for t in ts}))
    idf_map = df_to_idf(dfm, n_docs)
    # a phrase containing an OOV term matches nothing — drop it now
    queries = [
        (qid, ts, sum(idf_map[t] for t in ts))
        for qid, ts in phrase_queries
        if ts and all(t in idf_map for t in ts)
    ]
    deleted = snap.deleted

    def score_one(tds, qid, qterms, sum_idf):
        ids, ptf, lens, _ = _chain_doc_ptfs(tds, qterms, deleted, slop)
        return _score_and_topk(qid, ids, ptf, lens, sum_idf, avgdl, k)

    terms = sorted({t for _, ts, _ in queries for t in ts})
    return _positional_gather(snap, terms, queries, score_one, k, dfm)


# --------------------------------------------------------- span queries
def _chain_match_spans(
    term_pos: list[np.ndarray], n_terms: int
) -> tuple[np.ndarray, np.ndarray]:
    """Consecutive-position (slop=0) chain matches -> (starts, ends)
    position arrays. Same greedy-minimal argument as _chain_match_count
    specialized to exact phrases: p_j must equal p0 + j."""
    p0 = term_pos[0].astype(np.int64)
    alive = np.ones(p0.size, dtype=bool)
    for j in range(1, n_terms):
        pj = term_pos[j]
        idx = np.searchsorted(pj, p0 + j)
        ok = (idx < pj.size) & (pj[np.minimum(idx, pj.size - 1)] == p0 + j)
        alive &= ok
    starts = p0[alive]
    return starts, starts + (n_terms - 1)


def search_span_or(
    snap: Snapshot,
    span_queries: list[tuple[int, list[list[str]]]],
    k: int = 10,
) -> DataFrame:
    """Lucene SpanOrQuery over `snap`'s positional postings: a doc
    matches if ANY alternative phrase chain occurs; freq = total span
    count across alternatives; weight idf = Σ idf over the DISTINCT
    present terms of ALL alternatives (SpanWeight.buildSimWeight
    collects every clause's terms with df > 0, including clauses whose
    other member is OOV).

    `span_queries` = [(query_id, [[chain terms], ...])]."""
    _, n_docs, avgdl = snap.scope(None)
    dfm = snap.terms.df(
        sorted({t for _, chains in span_queries for ch in chains for t in ch})
    )
    idf_map = df_to_idf(dfm, n_docs)
    queries = []
    for qid, chains in span_queries:
        sidf = sum(
            idf_map[t]
            for t in {t for ch in chains for t in ch}
            if t in idf_map
        )
        live = [ch for ch in chains if all(t in idf_map for t in ch)]
        if live and sidf > 0:
            queries.append((qid, live, sidf))
    deleted = snap.deleted

    def score_one(tds, qid, chains, sidf):
        freq: dict[int, float] = {}
        dlen: dict[int, float] = {}
        for ch in chains:
            ids, ptf, lens, _ = _chain_doc_ptfs(tds, ch, deleted)
            for i in range(ids.size):
                if ptf[i] > 0:
                    d = int(ids[i])
                    freq[d] = freq.get(d, 0.0) + float(ptf[i])
                    dlen[d] = float(lens[i])
        if not freq:
            return None
        ids = np.array(sorted(freq), dtype=np.int64)
        ptf = np.array([freq[int(d)] for d in ids], dtype=np.float64)
        dl = np.array([dlen[int(d)] for d in ids], dtype=np.float64)
        return _score_and_topk(qid, ids, ptf, dl, sidf, avgdl, k)

    live_terms = sorted({t for _, chs, _ in queries for ch in chs for t in ch})
    return _positional_gather(snap, live_terms, queries, score_one, k, dfm)


def search_span_near_unordered(
    snap: Snapshot,
    pair_queries: list[tuple[int, list[str]]],
    slop: int = 2,
    k: int = 10,
) -> DataFrame:
    """Lucene span_near in_order=false over a term PAIR: a doc matches
    where the two terms occur within `slop` intervening positions in
    EITHER order — NearSpansUnordered's accounting for two unit-length
    subspans reduces to |pa - pb| - 1 <= slop. freq = count of first-
    term positions with a qualifying partner (the same per-start
    counting convention as the ordered path); scored as PhraseWeight
    (idf = sum of member idfs, saturated pseudo-term tf); an OOV member
    empties the query like match_phrase."""
    _, n_docs, avgdl = snap.scope(None)
    dfm = snap.terms.df(sorted({t for _, ts in pair_queries for t in ts}))
    idf_map = df_to_idf(dfm, n_docs)
    queries = []
    for qid, ts in pair_queries:
        if len(ts) != 2:
            raise ValueError(
                "unordered span_near supports term pairs "
                f"(got {len(ts)} terms for query {qid})"
            )
        if all(t in idf_map for t in ts):
            queries.append(
                (int(qid), ts[0], ts[1], sum(idf_map[t] for t in ts))
            )
    w = int(slop) + 1
    deleted = snap.deleted

    def score_one(tds, qid, t0, t1, sidf):
        if t0 not in tds or t1 not in tds:
            return None
        ta, tb = tds[t0], tds[t1]
        ids, (ra, rb) = _candidates([ta, tb], deleted)
        ptf = np.zeros(ids.size, dtype=np.float64)
        dl = np.zeros(ids.size, dtype=np.float64)
        for ci in range(ids.size):
            pa = ta.positions_of(int(ra[ci]))
            pb = tb.positions_of(int(rb[ci]))
            # distinct terms never share a position, so the window
            # [pa - w, pa + w] can't self-match
            lo = np.searchsorted(pb, pa - w, side="left")
            hi = np.searchsorted(pb, pa + w, side="right")
            ptf[ci] = float(np.count_nonzero(hi > lo))
            dl[ci] = float(ta.lens[int(ra[ci])])
        return _score_and_topk(qid, ids, ptf, dl, sidf, avgdl, k)

    live_terms = sorted({t for _, t0, t1, _ in queries for t in (t0, t1)})
    return _positional_gather(snap, live_terms, queries, score_one, k, dfm)


def search_span_not(
    snap: Snapshot,
    span_queries: list[tuple[int, list[str], str]],
    k: int = 10,
    pre: int = 1,
    post: int = 1,
) -> DataFrame:
    """Lucene SpanNotQuery over `snap`'s positional postings: matches
    of the include phrase chain whose span, widened by `pre` positions
    before and `post` after, contains NO occurrence of the exclude
    term. freq = surviving span count; weight idf covers the INCLUDE
    terms only (the exclusion is match-time filtering, exactly Lucene).
    An OOV/absent exclude term excludes nothing (pure phrase).

    `span_queries` = [(query_id, [include terms], exclude_term)]."""
    _, n_docs, avgdl = snap.scope(None)
    inc_terms = sorted({t for _, ts, _ in span_queries for t in ts})
    # one lookup: the exclude terms' df only sizes the scan
    dfm = snap.terms.df(
        sorted(set(inc_terms) | {x for _, _, x in span_queries})
    )
    idf_map = df_to_idf({t: dfm[t] for t in inc_terms if t in dfm}, n_docs)
    queries = [
        (qid, ts, x, sum(idf_map[t] for t in ts))
        for qid, ts, x in span_queries
        if all(t in idf_map for t in ts)
    ]
    deleted = snap.deleted
    pre_i, post_i = int(pre), int(post)

    def score_one(tds, qid, qterms, xterm, sidf):
        ids_all, _, lens, rows_per_term = _chain_doc_ptfs(
            tds, qterms, deleted
        )
        if ids_all.size == 0:
            return None
        term_tds = [tds[t] for t in qterms]
        xtd = tds.get(xterm)
        ptf = np.zeros(ids_all.size, dtype=np.float64)
        for ci in range(ids_all.size):
            term_pos = [
                td.positions_of(int(rows_per_term[j][ci]))
                for j, td in enumerate(term_tds)
            ]
            starts, ends = _chain_match_spans(term_pos, len(term_tds))
            if starts.size == 0:
                continue
            if xtd is not None:
                xi = np.searchsorted(xtd.ids, ids_all[ci])
                if xi < xtd.ids.size and xtd.ids[xi] == ids_all[ci]:
                    xpos = xtd.positions_of(int(xi))
                    lo = np.searchsorted(xpos, starts - pre_i, "left")
                    hi = np.searchsorted(xpos, ends + post_i, "right")
                    starts = starts[hi == lo]  # no overlap survives
            ptf[ci] = starts.size
        return _score_and_topk(qid, ids_all, ptf, lens, sidf, avgdl, k)

    live_terms = sorted({t for _, ts, x, _ in queries for t in (*ts, x)})
    return _positional_gather(snap, live_terms, queries, score_one, k, dfm)


def search_span_first(
    snap: Snapshot,
    span_queries: list[tuple[int, list[str], int]],
    k: int = 10,
) -> DataFrame:
    """Lucene SpanFirstQuery(SpanNearQuery(chain, slop=0), end) over
    `snap`'s positional postings: a chain match counts only if its
    span lies entirely within the first `end` token positions — i.e.
    its EXCLUSIVE end (0-based start + chain length) is <= `end`. freq
    = qualifying span count; weight idf = Σ idf over the chain terms
    (SpanWeight), scored as one saturated pseudo-term like every
    span/phrase query here ("title-like prominence without a separate
    field" is the classic use).

    `span_queries` = [(query_id, [chain terms], end)].
    """
    _, n_docs, avgdl = snap.scope(None)
    dfm = snap.terms.df(sorted({t for _, ts, _ in span_queries for t in ts}))
    idf_map = df_to_idf(dfm, n_docs)
    queries = [
        (qid, ts, int(end), sum(idf_map[t] for t in ts))
        for qid, ts, end in span_queries
        if all(t in idf_map for t in ts)
    ]
    deleted = snap.deleted

    def score_one(tds, qid, qterms, end, sidf):
        ids, _, lens, rows_per_term = _chain_doc_ptfs(tds, qterms, deleted)
        if ids.size == 0:
            return None
        term_tds = [tds[t] for t in qterms]
        ptf = np.zeros(ids.size, dtype=np.float64)
        for ci in range(ids.size):
            term_pos = [
                td.positions_of(int(rows_per_term[j][ci]))
                for j, td in enumerate(term_tds)
            ]
            _, ends = _chain_match_spans(term_pos, len(qterms))
            # ends are inclusive last positions; exclusive = +1
            ptf[ci] = float(np.count_nonzero(ends + 1 <= end))
        return _score_and_topk(qid, ids, ptf, lens, sidf, avgdl, k)

    live_terms = sorted({t for _, ts, _, _ in queries for t in ts})
    return _positional_gather(snap, live_terms, queries, score_one, k, dfm)


def search_intervals_match(
    docs_pos: DataFrame,
    queries: list[tuple[int, str, str, int]],
    k: int = 10,
) -> DataFrame:
    """ES intervals query — `match` source with ordered:true and
    max_gaps (the two-term form; longer chains nest the same rule):
    doc matches when term1 is followed by term2 with at most max_gaps
    intervening tokens. Returns per (query, doc) the number of valid
    anchor positions (`matches`, ES's interval iterator count), top-k
    by matches desc / doc_id asc.

    Execution shape is deliberately DIFFERENT from the span_* kernels:
    intervals are evaluated as pure Catalyst nested higher-order
    functions over the pos_map arrays — zero Python, zero kernel, full
    whole-stage codegen:

        matches = size(filter(P1, p1 -> exists(P2, p2 ->
                      p2 > p1 AND p2 - p1 - 1 <= g)))

    Per-doc work is bounded by |P1|x|P2| of the two queried terms
    (tiny), embarrassingly parallel, no shuffle before the final
    per-query top-k window.
    """
    # all queries evaluate in ONE pass over the positional doc table
    # (array-of-structs explode) — one scan total, not one per query
    structs = []
    for qid, t1, t2, g in queries:
        p1 = F.col("pos_map").getItem(t1)
        p2 = F.col("pos_map").getItem(t2)
        matches = F.when(
            p1.isNotNull() & p2.isNotNull(),
            F.size(
                F.filter(
                    p1,
                    lambda a: F.exists(
                        p2,
                        lambda b: (b > a) & (b - a - 1 <= F.lit(int(g))),
                    ),
                )
            ),
        ).otherwise(F.lit(0))
        structs.append(
            F.struct(
                F.lit(qid).cast("long").alias("query_id"),
                matches.cast("long").alias("matches"),
            )
        )
    out = (
        docs_pos.select("doc_id", F.explode(F.array(*structs)).alias("q"))
        .filter(F.col("q.matches") > 0)
        .select("q.query_id", "doc_id", F.col("q.matches").alias("matches"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("matches"), F.asc("doc_id")
    )
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "matches")
    )


def search_span_contain(
    snap: Snapshot,
    span_queries: list[tuple[int, str, str, int, str]],
    mode: str = "containing",
    k: int = 10,
) -> DataFrame:
    """Lucene SpanContainingQuery / SpanWithinQuery over `snap`'s
    positional postings. big = an ORDERED span_near pair (t1 then t2
    within max_gaps intervening tokens, greedy-minimal end per start —
    the SpanNearQuery ordered iterator), little = a single term.

    mode="containing": matches are BIG spans [s, e] holding a little
    occurrence (s <= z <= e); freq = surviving big spans, weight idf =
    t1 + t2 (Lucene scores the big side).
    mode="within": matches are LITTLE occurrences inside some big
    span; freq = surviving little positions, weight idf = little.

    `span_queries` = [(query_id, t1, t2, max_gaps, little)]. Same
    term-pruned scan -> per-dbucket kernel plan as every span query.
    """
    if mode not in ("containing", "within"):
        raise ValueError(f"mode must be containing|within, got {mode!r}")
    _, n_docs, avgdl = snap.scope(None)
    big_terms = sorted({t for _, t1, t2, _, _ in span_queries for t in (t1, t2)})
    lit_terms = sorted({x for *_, x in span_queries})
    need = big_terms if mode == "containing" else lit_terms
    # one lookup: the other side's df only sizes the scan
    dfm = snap.terms.df(sorted(set(big_terms) | set(lit_terms)))
    idf_map = df_to_idf({t: dfm[t] for t in need if t in dfm}, n_docs)
    queries = []
    for qid, t1, t2, g, x in span_queries:
        if not all(t in dfm for t in (t1, t2, x)):
            continue  # an OOV member matches nothing
        sidf = (
            idf_map.get(t1, 0.0) + idf_map.get(t2, 0.0)
            if mode == "containing"
            else idf_map.get(x, 0.0)
        )
        queries.append((qid, t1, t2, int(g), x, sidf))
    deleted = snap.deleted
    containing = mode == "containing"

    def score_one(tds, qid, t1, t2, g, xterm, sidf):
        if any(t not in tds for t in (t1, t2, xterm)):
            return None
        td1, td2, xtd = tds[t1], tds[t2], tds[xterm]
        cand_ids, (r1, r2, rx) = _candidates([td1, td2, xtd], deleted)
        ptf = np.zeros(cand_ids.size, dtype=np.float64)
        lens = np.zeros(cand_ids.size, dtype=np.float64)
        for ci in range(cand_ids.size):
            p1 = td1.positions_of(int(r1[ci]))
            p2 = td2.positions_of(int(r2[ci]))
            xpos = xtd.positions_of(int(rx[ci]))
            lens[ci] = float(td1.lens[int(r1[ci])])
            # greedy-minimal ordered pair spans: for each start, the
            # first t2 strictly after it within the gap budget
            idx = np.searchsorted(p2, p1 + 1, "left")
            ok = idx < p2.size
            idxc = np.minimum(idx, p2.size - 1)
            ok &= p2[idxc] <= p1 + g + 1
            starts, ends = p1[ok], p2[idxc[ok]]
            if starts.size == 0:
                continue
            if containing:
                lo = np.searchsorted(xpos, starts, "left")
                hi = np.searchsorted(xpos, ends, "right")
                ptf[ci] = float(np.count_nonzero(hi > lo))
            else:
                # ends are non-decreasing with starts (greedy minimal),
                # so z is covered iff the LAST span starting at or
                # before z ends at or after z
                i1 = np.searchsorted(starts, xpos, "right") - 1
                cov = i1 >= 0
                i1c = np.maximum(i1, 0)
                cov &= ends[i1c] >= xpos
                ptf[ci] = float(np.count_nonzero(cov))
        return _score_and_topk(qid, cand_ids, ptf, lens, sidf, avgdl, k)

    live_terms = sorted(
        {t for _, t1, t2, _, x, _ in queries for t in (t1, t2, x)}
    )
    return _positional_gather(snap, live_terms, queries, score_one, k, dfm)


# ---------------------------------------------------------------------------
# index_phrases fast path (ES mapping option, Lucene 2-shingle sub-field)
# ---------------------------------------------------------------------------


def shingle_tf(documents: DataFrame) -> DataFrame:
    """ES `index_phrases: true`: the hidden `<field>._index_phrase`
    sub-field indexes word 2-shingles ("w1 w2") as ordinary terms so a
    two-term match_phrase needs no positions at query time
    (es_record_mappings.json's text fields could opt in per field).

    documents(doc_id?, text) -> (doc_id, term, tf, len) where term is
    the shingle, tf its count, and len = token_count - 1 — the shingle
    field's OWN length. Docs with < 2 tokens emit no shingles and stay
    out of the shingle field's docCount/avgFieldLength, matching
    Lucene's per-field norms.

    Plan shape: tokenize (pandas UDF, the pinned NFC path) -> JVM-side
    transform+explode (no extra Python hop) -> one hash agg keyed on
    (doc_id, term) — the same single-shuffle shape as term_frequencies;
    shingles roughly double the token stream but nothing else changes
    at 100TB.
    """
    from mario_spark.analyze import tokenize_expr

    d = documents
    if "doc_id" not in d.columns:
        d = assign_doc_ids(d)
    base = d.select("doc_id", tokenize_expr("text").alias("arr")).filter(
        F.size("arr") >= 2
    )
    sh = base.select(
        "doc_id",
        (F.size("arr") - 1).cast("double").alias("len"),
        F.explode(
            F.expr(
                "transform(slice(arr, 1, size(arr) - 1),"
                " (x, i) -> concat(x, ' ', element_at(arr, i + 2)))"
            )
        ).alias("term"),
    )
    return sh.groupBy("doc_id", "term", "len").agg(
        F.count("*").cast("double").alias("tf")
    )


def search_phrase_shingle(
    documents: DataFrame,
    query_set: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """2-term match_phrase on an index_phrases field: Lucene rewrites
    the phrase to a TermQuery on the shingle sub-field, so scoring uses
    the shingle field's own stats (df over shingles, its docCount and
    avgFieldLength). That is why index_phrases returns the same match
    set as positional match_phrase but slightly different scores — and
    why it is the scale path: no positions stream is ever decoded.

    query_set: [(query_id, phrase_text)], each phrase exactly 2 tokens
    (ES takes this fast path only then; longer phrases fall back to
    mario_spark.phrase.search_phrase).
    """
    from mario_spark.analyze import py_tokenize
    from mario_spark.query import bm25_scores, doc_frequencies, topk

    rows = []
    for qid, text in query_set:
        toks = py_tokenize(text)
        if len(toks) != 2:
            raise ValueError(f"index_phrases serves 2-term phrases: {text!r}")
        rows.append((int(qid), f"{toks[0]} {toks[1]}"))
    q = local_frame(documents.sparkSession, rows, "query_id long, term string")
    tf = shingle_tf(documents)
    dl = tf.select("doc_id", "len").distinct()
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    scored = bm25_scores(tf, doc_frequencies(tf), stats, q)
    return topk(scored, k)


# ---------------------------------------------------------------------------
# Multi-word synonyms (ES synonym_graph at query time)
# ---------------------------------------------------------------------------


def search_synonym_graph(
    documents: DataFrame,
    query_set: list[tuple[int, str, str]],
    k: int = 10,
) -> DataFrame:
    """ES match with a query-time synonym_graph filter mapping a single
    term to a multi-word phrase (e.g. "ml" => "machine learning"):
    Lucene builds a graph query whose paths become BooleanQuery SHOULD
    clauses — a TermQuery for the single-token path and a PhraseQuery
    for the multi-token path — and a doc's score is the SUM of its
    matching clauses (multi-token synonyms can NOT use SynonymQuery's
    blended df, per Lucene's own docs; they fall back to boolean sum).

    query_set: (query_id, term, phrase_text with exactly 2+ tokens).
    Both paths are exhaustive DataFrame plans: the term path is plain
    BM25; the phrase path scores PhraseWeight (idf-sum pseudo-term on
    the phrase frequency) with the phrase_tf computed by a codegen
    adjacency scan over the token array — no positions stream, no UDF
    beyond the shared tokenizer, both hash-agg shaped.
    """
    from mario_spark.analyze import py_tokenize, tokenize_expr
    from mario_spark.docs import assign_doc_ids
    from mario_spark.query import topk

    d = documents
    if "doc_id" not in d.columns:
        d = assign_doc_ids(d)
    arr = d.select("doc_id", tokenize_expr("text").alias("arr")).filter(
        F.size("arr") > 0
    )
    arr = arr.withColumn("len", F.size("arr").cast("double")).persist()
    stats = arr.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    toks = arr.select("doc_id", "len", F.explode("arr").alias("term"))
    tf = toks.groupBy("doc_id", "term", "len").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    term_rows, phrase_terms = [], {}
    for qid, term, phrase in query_set:
        ptoks = py_tokenize(phrase)
        if len(ptoks) < 2:
            raise ValueError(f"synonym phrase needs >= 2 tokens: {phrase!r}")
        term_rows.append((int(qid), py_tokenize(term)[0]))
        phrase_terms[int(qid)] = ptoks
    spark = documents.sparkSession
    q_term = local_frame(spark, term_rows, "query_id long, term string")

    # --- term path: standard BM25 contribution for the single token
    from mario_spark.query import bm25_scores

    term_scored = bm25_scores(tf, dfreq, stats, q_term)

    # --- phrase path: adjacency-scan phrase_tf (codegen lambda over the
    # token array), PhraseWeight scoring with idf summed over members
    member_rows = [
        (qid, t) for qid, ptoks in phrase_terms.items() for t in set(ptoks)
    ]
    q_members = local_frame(spark, member_rows, "query_id long, term string")
    idf_sum = (
        q_members.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .groupBy("query_id")
        .agg(
            F.sum("idf").alias("sidf"),
            F.count("*").alias("n_found"),
            F.first("avgdl").alias("avgdl"),
        )
    )
    phrase_parts = []
    for qid, ptoks in phrase_terms.items():
        m = len(ptoks) - 1
        conds = " AND ".join(
            f"arr[p + {j - 1}] = '{t}'" for j, t in enumerate(ptoks)
        )
        ptf_expr = (
            f"CAST(size(filter(sequence(1, int(size(arr)) - {m}), "
            f"p -> {conds})) AS DOUBLE)"
        )
        phrase_parts.append(
            arr.select(
                F.lit(qid).cast("long").alias("query_id"),
                "doc_id",
                "len",
                F.expr(ptf_expr).alias("ptf"),
            ).filter(F.col("ptf") > 0)
        )
    ptf_df = phrase_parts[0]
    for p in phrase_parts[1:]:
        ptf_df = ptf_df.unionByName(p)
    n_members = local_frame(
        spark,
        [(qid, len(set(ts))) for qid, ts in phrase_terms.items()],
        "query_id long, n_terms long",
    )
    phrase_scored = (
        ptf_df.join(F.broadcast(idf_sum), "query_id")
        .join(F.broadcast(n_members), "query_id")
        # an OOV member zeroes the phrase path (it can never match, and
        # idf_sum would silently under-count otherwise)
        .filter(F.col("n_found") == F.col("n_terms"))
        .withColumn(
            "score",
            bm25_contrib("sidf", "ptf", "len", "avgdl"),
        )
        .select("query_id", "doc_id", "score")
    )

    combined = (
        term_scored.withColumnRenamed("score", "s_term")
        .join(
            phrase_scored.withColumnRenamed("score", "s_phrase"),
            ["query_id", "doc_id"],
            "full_outer",
        )
        .withColumn(
            "score",
            F.coalesce(F.col("s_term"), F.lit(0.0))
            + F.coalesce(F.col("s_phrase"), F.lit(0.0)),
        )
        .select("query_id", "doc_id", "score")
    )
    return topk(combined, k)
