"""Block-max WAND top-k over the compressed postings (B7).

Re-implements, from scratch, the query evaluation mario delegates to
OpenSearch/Lucene (block-max WAND is the Lucene 8 default top-k path;
mario's search contract is the mapping file — see SURVEY §3.3).

Distributed shape = exactly the reference engine's: the index is
document-partitioned (postings.dbucket == an ES shard); each task runs
block-max-pruned scoring over ONE dbucket for the WHOLE query batch and
emits local top-k per query; the driver merges those bucket top-ks, as
an ES coordinating node merges shard top-ks (scatter_gather). No stage
ever materializes a full posting list, and posting blocks are shipped
to exactly one task each (the query set travels in the task closure,
never joined against the postings — a postings x queries join would
replicate head-term blocks once per query).

Per-bucket kernel (sound pruning, fully vectorized, PRUNE BEFORE
DECODE — the block-max mask is computed from stored impacts, so pruned
blocks are never VByte-decoded at all):
 1. Bootstrap a threshold θ_q per query: exact partial scores of the
    query's rarest (max-idf) term; θ_q = k-th best partial. The true
    k-th best total is >= θ_q. (Only the rarest term — the term with
    the FEWEST blocks — is fully decoded for this.)
 2. Block pruning: drop block B of term t for query q iff
       max_score(B) + Σ_{t'∈q, t'≠t} max_score_bucket(t') < θ_q - ε,
    where max_score(B) comes from the STORED (max_tf, min_len) impacts
    — no decode needed. Every doc of a dropped block totals < θ_q <=
    true k-th score, so it cannot enter the top-k; a doc with some
    blocks dropped can only be underestimated, and its bound keeps it
    below θ_q, so it cannot displace a true top-k doc either. Tests
    assert rank identity (ids AND scores) vs the exhaustive scorer.
 3. Only surviving blocks are decoded; each block is decoded AT MOST
    once per task (per-block cache shared across the query batch, so
    batch amortization is kept while single-query latency now pays
    decode only for live blocks).
 4. Exact vectorized scoring (np.unique + bincount groupby) over the
    surviving blocks; local top-k by the finish's rule (_local_topk).
"""

from __future__ import annotations

from collections import OrderedDict
from decimal import ROUND_HALF_UP, Decimal
from functools import cached_property
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mario_spark import codec
from mario_spark.localread import (
    close_parts,
    read_columns,
    read_df,
    read_df_map,
    read_doc_ids,
    read_postings,
    read_range_df,
)
from mario_spark.postings import block_upper_bound
from mario_spark.postings import idf as _idf
from mario_spark.query import (
    RESULT_SCHEMA,
    SCORE_DECIMALS,
    bm25_contrib_np,
    empty_result,
)
from mario_spark.session import local_frame

_EPS = 1e-9

# QuerySession TermStats bounds: dictionaries of at most VOCAB_CACHE_MAX
# rows are held whole in driver memory (the warm fast path); larger
# ones switch to executor-side range-partitioned shards with a
# DF_LRU_MAX-entry driver LRU of query-touched dfs. 2M terms ~ 100 MB
# of driver dict — comfortable; 10^8-10^9 web-vocab terms would be
# tens of GB, which is the ceiling this bound removes.
VOCAB_CACHE_MAX = 2_000_000
DF_LRU_MAX = 200_000


def _regex_literal_prefix(pattern: str) -> str:
    """Longest leading run of the regex that must match literally —
    the prefix window a terms-index walk can seek to (Lucene compiles
    the automaton and intersects it with the FST; the literal prefix
    is the cheap sound subset of that). Conservative: alternation
    anywhere disables the prefix, and a char followed by a quantifier
    is excluded (it may match zero times)."""
    if "|" in pattern:
        return ""
    out = []
    for i, c in enumerate(pattern):
        if not (c.isalnum() or c == "_"):
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "*?+{":
            break
        out.append(c)
    return "".join(out)


LOCAL_SCHEMA = "query_id long, doc_id long, score double"


def _result_frame(
    parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> pd.DataFrame:
    """A per-bucket kernel's output: its (query_ids, doc_ids, scores)
    array triples concatenated into one LOCAL_SCHEMA frame."""
    if not parts:
        return pd.DataFrame(
            {"query_id": [], "doc_id": [], "score": []}
        ).astype({"query_id": "int64", "doc_id": "int64", "score": "float64"})
    qs, ds, ss = zip(*parts)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(qs),
            "doc_id": np.concatenate(ds),
            "score": np.concatenate(ss),
        }
    )


def round_half_up(x: np.ndarray, decimals: int = SCORE_DECIMALS) -> np.ndarray:
    """Spark's round(x, decimals) on doubles, exactly: HALF_UP applied
    to the shortest decimal repr of x (BigDecimal of Double.toString).
    floor(x * 10^d + 0.5) / 10^d agrees everywhere except within
    rounding error of a tie, where x * 10^d may land on either side of
    .5 (5.39575 * 1e4 = 53957.49999999999); only those rows go through
    Decimal."""
    x = np.asarray(x, dtype=np.float64)
    q = 10.0**decimals
    y = x * q
    out = np.floor(y + 0.5) / q
    near = np.abs(y - np.floor(y) - 0.5) <= 1e-9 * np.maximum(1.0, np.abs(y))
    if near.any():
        step = Decimal(1).scaleb(-decimals)
        out[near] = [
            float(Decimal(repr(float(v))).quantize(step, ROUND_HALF_UP))
            for v in x[near]
        ]
    return out


def _local_topk(qid: int, ids: np.ndarray, scores: np.ndarray, k: int):
    """One query's bucket-local top-k -> (query_ids, doc_ids, scores),
    selected by the rule the driver finish ranks by: Spark-rounded
    score desc, then doc_id asc. Any other key (the raw float, another
    rounding) can keep the wrong doc when more than k docs of the
    bucket tie at the k-th rounded score. Scores stay unrounded."""
    top = np.lexsort((ids, -round_half_up(scores)))[:k]
    return (
        np.full(top.size, qid, dtype=np.int64),
        ids[top].astype(np.int64, copy=False),
        scores[top],
    )


def _sum_df(rows) -> dict[str, int]:
    """(term, df) rows -> {term: df}. The segment dictionaries repeat a
    term once per segment holding it; its df is the sum of those rows,
    because segments are doc-disjoint."""
    out: dict[str, int] = {}
    for r in rows:
        out[r["term"]] = out.get(r["term"], 0) + int(r["df"])
    return out


def _by_query(frame: DataFrame) -> dict[int, list[str]]:
    """(query_id, term) rows -> {query_id: [terms]}, in row order."""
    out: dict[int, list[str]] = {}
    for r in frame.collect():
        out.setdefault(int(r["query_id"]), []).append(r["term"])
    return out


def df_to_idf(dfm: dict[str, int], n_docs: float) -> dict[str, float]:
    """{term: df} -> {term: BM25 idf} against a collection of n_docs."""
    return {t: _idf(float(n_docs), float(df)) for t, df in dfm.items()}


class _TermData:
    """One term's posting blocks within one dbucket — LAZY decode.

    __init__ touches only the block METADATA (stored impacts); actual
    VByte decode happens per block, on demand, with a per-block cache
    shared across the whole query batch of the task.
    """

    __slots__ = (
        "raw_ids", "raw_tfs", "raw_lens", "block_max", "block_lens",
        "first_doc", "last_doc",
        "t_idf", "avgdl", "_blocks", "_full",
    )

    def __init__(self, rows: pd.DataFrame, t_idf: float, avgdl: float):
        self.raw_ids = rows["doc_ids"].tolist()
        self.raw_tfs = rows["tfs"].tolist()
        self.raw_lens = rows["lens"].tolist()
        # stored per-block doc-id bounds (Lucene skip data): range
        # pruning for conjunctive queries needs no decode
        self.first_doc = rows["first_doc"].to_numpy(np.int64)
        self.last_doc = rows["last_doc"].to_numpy(np.int64)
        # block-max bound from stored impacts + CURRENT collection stats
        self.block_max = block_upper_bound(
            t_idf,
            rows["max_tf"].to_numpy(),
            rows["min_len"].to_numpy(),
            avgdl,
        )
        self.block_lens = rows["n"].to_numpy(np.int64)
        self.t_idf, self.avgdl = t_idf, avgdl
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None

    def _contrib(self, tfs: np.ndarray, lens: np.ndarray) -> np.ndarray:
        return bm25_contrib_np(self.t_idf, tfs, lens, self.avgdl)

    def _block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        hit = self._blocks.get(i)
        if hit is None:
            tfs = codec.vbyte_decode(self.raw_tfs[i]).astype(np.float64)
            lens = codec.vbyte_decode(self.raw_lens[i]).astype(np.float64)
            hit = (codec.decode_doc_ids(self.raw_ids[i]), self._contrib(tfs, lens))
            self._blocks[i] = hit
        return hit

    def full(self) -> tuple[np.ndarray, np.ndarray]:
        """All blocks decoded (cached): (doc_ids, contribs), id-sorted."""
        if self._full is None:
            n = len(self.raw_ids)
            parts = [self._block(i) for i in range(n)]
            self._full = (
                np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]),
            )
            self._blocks.clear()  # superseded by the full arrays
        return self._full

    def gather(self, live: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, contribs) of the live blocks only — pruned blocks
        are never decoded (unless a previous query already paid for the
        full arrays, in which case slicing them is cheaper)."""
        if live.all():
            return self.full()
        if self._full is not None:
            m = np.repeat(live, self.block_lens)
            return self._full[0][m], self._full[1][m]
        idx = np.flatnonzero(live)
        if idx.size == 0:
            e = np.empty(0, dtype=np.int64)
            return e, np.empty(0)
        parts = [self._block(int(i)) for i in idx]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    @property
    def n_postings(self) -> int:
        return int(self.block_lens.sum())


def _conjunctive_scores(
    tds: list["_TermData"],
) -> tuple[np.ndarray, np.ndarray]:
    """AND semantics: docs present in EVERY term's postings, scored.

    Classic rarest-first sorted-list intersection (doc ids are sorted
    within a bucket), with RANGE-PRUNED decode: only the rarest term is
    fully decoded; every later term decodes just the blocks whose
    stored (first_doc, last_doc) span intersects a surviving candidate
    id — the skip-pointer walk of a sorted-list intersection, done
    block-wise on stored bounds. The final per-term contrib lookup
    reuses the gathered arrays (no second decode)."""
    tds = sorted(tds, key=lambda t: t.n_postings)
    ids, _ = tds[0].full()
    gathered: list[tuple[np.ndarray, np.ndarray]] = [tds[0].full()]
    for td in tds[1:]:
        if ids.size == 0:
            return ids, np.empty(0)
        # block j survives iff some candidate id lies in
        # [first_doc[j], last_doc[j]] (candidates are sorted)
        lo = np.searchsorted(ids, td.first_doc)
        hi = np.searchsorted(ids, td.last_doc, side="right")
        t_ids, t_contrib = td.gather(hi > lo)
        gathered.append((t_ids, t_contrib))
        ids = ids[np.isin(ids, t_ids, assume_unique=True)]
    if ids.size == 0:
        return ids, np.empty(0)
    total = np.zeros(ids.size)
    # ids only ever shrank, so it is a subset of every gathered t_ids
    for t_ids, t_contrib in gathered:
        pos = np.searchsorted(t_ids, ids)
        total += t_contrib[pos]
    return ids, total


def _group_max(
    parts: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Dis-max merge of member-term posting arrays: per doc, the MAX
    contribution across the group's members (Lucene BlendedTermQuery /
    per-term dis_max with tie_breaker=0). Single-member groups pass
    through untouched — the ungrouped hot path pays nothing."""
    if len(parts) == 1:
        return parts[0]
    cat_ids = np.concatenate([p[0] for p in parts])
    cat_c = np.concatenate([p[1] for p in parts])
    gids, inv = np.unique(cat_ids, return_inverse=True)
    gmax = np.full(gids.size, -np.inf)
    np.maximum.at(gmax, inv, cat_c)
    return gids, gmax


def _bucket_kernel(
    pdf: pd.DataFrame,
    queries: list[tuple[int, list[str]]],
    idf_map: dict[str, float],
    avgdl: float,
    k: int,
    conjunctive: bool = False,
    must_not: dict[int, list[str]] | None = None,
    msm: int = 1,
    deleted: np.ndarray | None = None,
    filter_terms: list[str] | None = None,
    groups: dict[int, list[list[str]]] | None = None,
    avgdl_map: dict[str, float] | None = None,
) -> pd.DataFrame:
    """Score every query against one dbucket's candidate blocks.

    filter_terms = GLOBAL filter context (ES filtered alias / bool
    filter terms): a doc must contain AT LEAST ONE filter term to
    surface, and filter terms never score. All of a doc's postings
    live in one dbucket, so a bucket containing NO filter term is
    skipped whole — the filter prunes entire partitions before any
    decode, and only the filter terms' doc-id streams are ever read.

    deleted = GLOBAL tombstone set (sorted unique doc ids): Lucene live-
    docs semantics — deleted docs never surface, but collection stats
    (idf/avgdl) intentionally still include them until a compaction
    purges the postings (exactly ES/Lucene behavior between a
    delete-by-query and the next merge).

    must_not = ES bool.must_not (FILTER context: excluded docs never
    score, excluded terms never contribute). All of a doc's postings
    live in one dbucket, so exclusion is bucket-local and exact.

    msm = ES minimum_should_match over the disjunctive terms: a doc
    must match >= msm distinct query terms. The θ bootstrap stays
    SOUND under msm > 1 via pigeonhole: every msm-satisfying doc
    matches at least one of the (n_terms - msm + 1) rarest terms, so
    those terms' postings are decoded together and θ is taken from the
    k-th best partial among docs whose match count WITHIN that subset
    already reaches msm (such docs provably satisfy msm, and a doc's
    true total >= its subset partial). Decoded blocks stay in the
    per-term cache, so the bootstrap's decode work is reused by the
    scoring pass.

    groups = per-query dis-max TERM GROUPS (ES multi_match
    cross_fields / Lucene BlendedTermQuery): groups[qid] partitions the
    query's terms; a doc's score is the sum over groups of the MAX
    member contribution (tie_breaker=0). Block-max pruning stays
    active and SOUND: member-term block j may be skipped when
    block_max[j] + sum(other groups' upper bounds) < θ — for any doc
    whose group max lives in that block the bound caps its total, and
    a doc whose max lives in another member has that member's block
    surviving the same test whenever the doc can reach θ. Ungrouped
    queries are singleton groups (bit-identical to the pre-group
    kernel). avgdl_map gives per-term length normalization (a field's
    own avgFieldLength under cross-field blending).
    """
    must_not = must_not or {}
    # metadata-only construction: NO decode happens here. must_not
    # terms get idf 0.0 — only their doc ids are consulted.
    _adl = avgdl_map or {}
    tds: dict[str, _TermData] = {
        t: _TermData(
            g.sort_values("block_id"), idf_map.get(t, 0.0),
            _adl.get(t, avgdl),
        )
        for t, g in pdf.groupby("term", sort=False)
    }
    bucket_max = {t: float(td.block_max.max()) for t, td in tds.items()}

    allow: np.ndarray | None = None
    if filter_terms is not None:
        fts = [t for t in filter_terms if t in tds]
        if not fts:
            # no filter term in this bucket -> no doc here can match
            return _result_frame([])
        parts = [tds[t].full()[0] for t in fts]
        allow = (
            parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        )

    def _excl_ids(qid: int) -> np.ndarray | None:
        nts = [t for t in must_not.get(qid, []) if t in tds]
        if not nts:
            return deleted
        parts = [tds[t].full()[0] for t in nts]
        e = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        # union1d keeps the sorted-unique contract isin(assume_unique)
        # relies on
        return e if deleted is None else np.union1d(e, deleted)

    out = []
    for qid, qterms in queries:
        qgroups_raw = groups.get(qid) if groups is not None else None
        if qgroups_raw is None:
            qgroups = [[t] for t in qterms if t in tds and t in idf_map]
        else:
            qgroups = [
                m
                for m in (
                    [t for t in g if t in tds and t in idf_map]
                    for g in qgroups_raw
                )
                if m
            ]
        terms = [t for g in qgroups for t in g]
        if not terms:
            continue
        excl = _excl_ids(qid)
        if conjunctive:
            if qgroups_raw is not None:
                raise ValueError(
                    "conjunctive semantics are undefined for dis-max "
                    "term groups (cross_fields is a disjunctive query)"
                )
            # a doc needs EVERY term; all its postings live in this
            # bucket, so a term absent here rules out the whole bucket
            if len(terms) < len(qterms):
                continue
            ids, totals = _conjunctive_scores([tds[t] for t in terms])
            if excl is not None and ids.size:
                keep = ~np.isin(ids, excl, assume_unique=True)
                ids, totals = ids[keep], totals[keep]
            if allow is not None and ids.size:
                keep = np.isin(ids, allow, assume_unique=True)
                ids, totals = ids[keep], totals[keep]
            if ids.size == 0:
                continue
            out.append(_local_topk(qid, ids, totals, k))
            continue
        # 1. bootstrap θ from the rarest term present in this bucket
        # (max idf == min df, so pick by idf) — the only forced decode.
        # Excluded docs are masked out of the bootstrap first: θ must
        # lower-bound the k-th best among VALID docs only.
        gidf = [max(idf_map[t] for t in g) for g in qgroups]
        group_ub = [max(bucket_max[t] for t in g) for g in qgroups]
        if msm > len(qgroups):
            # all of a doc's postings live in this bucket, so no doc
            # here can match msm distinct terms (ES: a query with
            # fewer terms than the minimum matches nothing)
            continue
        if msm <= 1:
            gi = max(range(len(qgroups)), key=lambda i: gidf[i])
            b_ids, boot = _group_max(
                [tds[t].full() for t in qgroups[gi]]
            )
            # θ must lower-bound the k-th best among docs that can
            # actually surface: mask both exclusions and the filter
            if excl is not None:
                bmask = ~np.isin(b_ids, excl, assume_unique=True)
                b_ids, boot = b_ids[bmask], boot[bmask]
            if allow is not None:
                boot = boot[np.isin(b_ids, allow, assume_unique=True)]
            theta = (
                float(np.partition(boot, boot.size - k)[boot.size - k])
                if boot.size >= k
                else -np.inf
            )
        else:
            # pigeonhole bootstrap (see docstring): decode the
            # (n - msm + 1) rarest GROUPS; θ = k-th best subset-partial
            # among docs already matching >= msm groups WITHIN the
            # subset (group partial = dis-max over members)
            boot_gis = sorted(
                range(len(qgroups)), key=lambda i: -gidf[i]
            )[: len(qgroups) - msm + 1]
            bparts = [
                _group_max([tds[t].full() for t in qgroups[i]])
                for i in boot_gis
            ]
            b_ids = np.concatenate([p[0] for p in bparts])
            b_sc = np.concatenate([p[1] for p in bparts])
            uniq_b, inv_b = np.unique(b_ids, return_inverse=True)
            part = np.bincount(inv_b, weights=b_sc)
            valid = np.bincount(inv_b) >= msm
            if excl is not None:
                valid &= ~np.isin(uniq_b, excl, assume_unique=True)
            if allow is not None:
                valid &= np.isin(uniq_b, allow, assume_unique=True)
            boot = part[valid]
            theta = (
                float(np.partition(boot, boot.size - k)[boot.size - k])
                if boot.size >= k
                else -np.inf
            )
        total_ub = sum(group_ub)
        ids_parts, contrib_parts = [], []
        for g, g_ub in zip(qgroups, group_ub):
            ub_other = total_ub - g_ub
            parts = []
            for t in g:
                td = tds[t]
                # 2. prune on STORED impacts, 3. decode survivors only
                live = (td.block_max + ub_other) >= (theta - _EPS)
                t_ids, t_contrib = td.gather(live)
                if t_ids.size:
                    parts.append((t_ids, t_contrib))
            if not parts:
                continue
            g_ids, g_contrib = _group_max(parts)
            ids_parts.append(g_ids)
            contrib_parts.append(g_contrib)
        if not ids_parts:
            continue
        ids = np.concatenate(ids_parts)
        contrib = np.concatenate(contrib_parts)
        uniq, inv = np.unique(ids, return_inverse=True)
        totals = np.bincount(inv, weights=contrib)
        keep = np.ones(uniq.size, dtype=bool)
        if msm > 1:
            # each group emits a doc at most once, so bincount(inv)
            # counts DISTINCT matching groups per doc (== terms when
            # groups are singletons)
            keep &= np.bincount(inv) >= msm
        if excl is not None:
            keep &= ~np.isin(uniq, excl, assume_unique=True)
        if allow is not None:
            keep &= np.isin(uniq, allow, assume_unique=True)
        if not keep.all():
            uniq, totals = uniq[keep], totals[keep]
        if uniq.size == 0:
            continue
        out.append(_local_topk(qid, uniq, totals, k))
    return _result_frame(out)


# The coordinator route's bound: a batch whose candidate postings (the
# summed df of its scan terms) are at most this many is scored on the
# driver. Sized from the crossover with the distributed route
# (scripts/route_crossover.py on a 4-core local[4] box, 24,000-doc
# 3-segment positional index; CHANGES.md): term batches, cold and warm,
# are still faster on the driver at ~350,000 candidates, so 200,000
# keeps a margin. More executor cores move the crossover down.
DRIVER_LIMIT = 200_000
# A positional candidate (phrase, span and query_string kernels) costs
# the serial driver kernel three to five term candidates, as it decodes
# and chains positions. Warm positional batches cross over between
# 70,000 and 100,000 candidates, so each counts 4 against DRIVER_LIMIT:
# at most 50,000 take the driver route, cold or warm.
POSITIONAL_WEIGHT = 4


def scatter_gather(
    snap: "Snapshot",
    scan_terms: list[str],
    kernel,
    k: int,
    dfm: dict[str, int],
    limit: int | None = None,
    weight: int = 1,
) -> DataFrame:
    """The shape every index-backed query shares: scan `snap`'s
    postings pruned to `scan_terms`, run `kernel` once per dbucket over
    the whole query batch (pandas frame of that bucket's blocks ->
    LOCAL_SCHEMA rows, each query's bucket-local top-k by _local_topk),
    then rank those rows per query on the driver (_rank_on_driver). All
    of a doc's postings live in one dbucket, so any kernel whose
    per-doc evaluation needs only that doc's postings is exact
    bucket-locally.

    Two routes to the kernel rows, one finish, identical rows. `dfm`
    ({term: df}; a scan term absent from it is out of vocabulary) sizes
    the batch; a batch with no candidate runs no job. When its
    candidate postings, the summed df of the scan terms, times the
    kernel's per-posting `weight` (POSITIONAL_WEIGHT for positional
    kernels), are at most `limit` (DRIVER_LIMIT when None; 0 turns the
    route off), the coordinator route runs the kernel per dbucket on
    the driver over the pruned postings: read with pyarrow from the
    part files the snapshot holds open (`postings_files`: a pinned
    snapshot, a session opened from a local index;
    localread.read_postings, no job), else collected in ONE JVM-only
    Arrow job (a frame-built snapshot or session, an object-store
    index). Otherwise the distributed route runs the kernel per dbucket
    in `applyInPandas` on the executors (predicate pushed into the
    scan) and collects its rows: the driver receives at most queries x
    dbuckets x k rows, the merge of shard top-ks an ES coordinating
    node does, and never more than the limit's postings. `kernel` is
    pickled into those tasks, so it must not capture the snapshot:
    open part files do not pickle."""
    limit = DRIVER_LIMIT if limit is None else limit
    n = sum(dfm.get(t, 0) for t in scan_terms)
    if n == 0:
        return empty_result(snap.spark)
    if n * weight <= limit:
        rows = (
            read_postings(snap.postings_files, scan_terms)
            if snap.postings_files
            else snap.postings.filter(F.col("term").isin(scan_terms))
            .toPandas()
        )
        local = pd.concat(
            [_result_frame([])]
            + [kernel(g) for _, g in rows.groupby("dbucket", sort=True)],
            ignore_index=True,
        )
    else:
        local = (
            snap.postings.filter(F.col("term").isin(scan_terms))
            .groupBy("dbucket").applyInPandas(kernel, LOCAL_SCHEMA)
            .toPandas()
        )
    return _rank_on_driver(snap.spark, local, k)


def _rank_on_driver(spark, local: pd.DataFrame, k: int) -> DataFrame:
    """The finish of every index-backed search, over the kernels'
    LOCAL_SCHEMA rows: score rounded as Spark's round(score, 4), ranked
    by score desc, doc_id asc (_local_topk's rule), k per query;
    returned as a local relation (no job to collect)."""
    qid = local["query_id"].to_numpy(np.int64)
    doc = local["doc_id"].to_numpy(np.int64)
    score = round_half_up(local["score"].to_numpy())
    order = np.lexsort((doc, -score, qid))
    qid, doc, score = qid[order], doc[order], score[order]
    # rank = 1 + position within the query's run of rows
    first = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]])
    run = np.diff(np.r_[first, qid.size])
    rank = np.arange(qid.size) - np.repeat(first, run) + 1
    keep = rank <= k
    return local_frame(
        spark,
        zip(
            qid[keep].tolist(), rank[keep].tolist(),
            doc[keep].tolist(), score[keep].tolist(),
        ),
        RESULT_SCHEMA,
    )


def _run_kernel(
    snap: "Snapshot",
    queries: list[tuple[int, list[str]]],
    idf_map: dict[str, float],
    avgdl: float,
    k: int,
    conjunctive: bool,
    must_not: dict[int, list[str]] | None = None,
    msm: int = 1,
    deleted: np.ndarray | None = None,
    filter_terms: list[str] | None = None,
    groups: dict[int, list[list[str]]] | None = None,
    avgdl_map: dict[str, float] | None = None,
    *,
    dfm: dict[str, int],
    limit: int | None = None,
) -> DataFrame:
    """The term kernel over a batch: a term-pruned scatter_gather of
    _bucket_kernel over `snap`'s postings (`dfm`/`limit` pick its
    route). `deleted` rides in the kernel's closure (at 100TB ship it
    as a broadcast roaring bitmap partitioned by dbucket; the
    sorted-array form keeps the kernel numpy-pure). A conjunctive
    query with an OOV term matches nothing and is dropped; a batch
    left with no scored term runs no job."""
    if conjunctive:
        queries = [q for q in queries if all(t in idf_map for t in q[1])]
    terms = sorted({t for _, ts in queries for t in ts if t in idf_map})
    if not terms:
        return empty_result(snap.spark)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_kernel(
            pdf, queries, idf_map, avgdl, k, conjunctive, must_not,
            msm, deleted, filter_terms, groups, avgdl_map,
        )

    return scatter_gather(
        snap, _scan_terms(terms, must_not, filter_terms), kernel, k,
        dfm, limit,
    )


def _scan_terms(
    terms: list[str],
    must_not: dict[int, list[str]] | None,
    filter_terms: list[str] | None,
) -> list[str]:
    """Scored terms plus the filter-context terms the kernel reads:
    must_not and filter terms ride along in the pruned scan (their ids
    are the exclusion / admission sets) but never contribute score."""
    return sorted(
        set(terms)
        .union(t for ts in (must_not or {}).values() for t in ts)
        .union(filter_terms or [])
    )


def search_wand(
    postings: DataFrame,
    dictionary: DataFrame,
    query_terms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    conjunctive: bool = False,
    must_not_terms: DataFrame | None = None,
    min_should_match: int = 1,
    deleted_docs: DataFrame | None = None,
    filter_terms: list[str] | None = None,
) -> DataFrame:
    """postings x (query_id, term) -> (query_id, rank, doc_id, score).

    filter_terms = ES filter context shared by every query (e.g. a
    filtered alias's terms filter): a doc must contain at least one
    filter term; filter terms never score. Buckets containing no
    filter term are skipped before any decode.

    deleted_docs = tombstoned doc ids (Index delete-by-query): excluded
    from every query's results; stats stay stale until compaction, the
    Lucene live-docs contract.

    conjunctive=True = ES bool-must: rarest-first sorted intersection
    per bucket (and whole-bucket skip when any term is absent there).

    must_not_terms = ES bool.must_not, a (query_id, term) DataFrame
    shaped like query_terms: docs containing ANY listed term are
    excluded from that query's results (filter context — no scoring).

    min_should_match = ES minimum_should_match over the OR terms: a
    doc must match at least this many distinct query terms (a query
    with fewer terms than the minimum matches nothing, as in ES).

    Plan: collect the tiny query-term table driver-side (it IS the
    query) and run Snapshot.search_terms over these frames: one
    dictionary lookup for just the queried terms, then the WAND kernel
    through scatter_gather (_run_kernel).
    """
    snap = Snapshot(
        postings, TermStats(lambda: dictionary), n_docs, avgdl,
        deleted_docs=lambda: deleted_docs,
    )
    return snap.search_terms(
        sorted(_by_query(query_terms).items()), k, conjunctive,
        must_not=(
            None if must_not_terms is None else _by_query(must_not_terms)
        ),
        min_should_match=min_should_match,
        filter_terms=filter_terms,
    )


def _prefix_ub(pfx: str) -> str | None:
    """The exclusive upper bound of the prefix range: increments pfx's
    last code point (with carry past U+10FFFF) — the smallest string
    greater than EVERY string prefixed by pfx; a naive
    pfx+chr(0x10FFFF) sentinel wrongly excludes terms containing
    U+10FFFF right after the prefix, which sort above it. None when no
    such bound exists (pfx is all-U+10FFFF or empty)."""
    for i in range(len(pfx) - 1, -1, -1):
        c = ord(pfx[i])
        if c < 0x10FFFF:
            return pfx[:i] + chr(c + 1)
    return None


def _prefix_range(arr: list[str], pfx: str) -> tuple[int, int]:
    """[lo, hi) window of `arr` (sorted) holding every string with
    prefix `pfx` (bounds per _prefix_ub)."""
    import bisect

    lo = bisect.bisect_left(arr, pfx)
    ub = _prefix_ub(pfx)
    hi = len(arr) if ub is None else bisect.bisect_left(arr, ub, lo=lo)
    return lo, hi


def _pattern(
    kind: str, q: str, max_edits: int, prefix_length: int,
    transpositions: bool,
) -> tuple[str | None, str, Callable[[str], bool]]:
    """(head, tail, match) of one multi-term pattern: the literal every
    matching term starts with (its forward prefix window), or None and
    the literal every matching term ends with (a suffix window), and the
    whole-term predicate a window term must pass. A pattern whose head
    and tail are both empty pins no literal at either end, so no bounded
    dictionary window holds its terms (Lucene's terms-index seek has the
    same precondition; unanchored patterns scan)."""
    import re as _re

    from mario_spark import fuzzy as fuzzymod

    if kind == "fuzzy":
        pfx = q[:prefix_length]

        def near(t: str) -> bool:
            # OSA <= 1 decomposes as fuzzy.expand_terms' join
            # does: classic Levenshtein <= 1, or one adjacent swap
            return t[:prefix_length] == pfx and (
                fuzzymod.levenshtein_le(t, q, max_edits)
                or (transpositions and fuzzymod.is_transposition(t, q))
            )

        return pfx, "", near
    if kind == "prefix":
        return q, "", lambda t: True
    if kind == "wildcard":
        # * -> .*, ? -> . over re-escaped literals; whole-term. The
        # LONGER of the two literal runs bounds the scan: the run before
        # the first metachar -> forward prefix window; the run after the
        # last metachar -> suffix window over the REVERSED terms
        # (Lucene's reverse-field trick), so a leading wildcard *suffix
        # is O(log V + window) too, not O(vocab). Only a both-ends-open
        # pattern (*a*, ?a?) walks the vocab.
        lit = _re.match(r"[^*?]*", q).group(0)
        tail = _re.search(r"[^*?]*$", q).group(0)
        pat = _re.compile(
            ".*".join(
                ".".join(_re.escape(p) for p in part.split("?"))
                for part in q.split("*")
            )
        )
        if len(lit) >= len(tail):
            return lit, "", pat.fullmatch
        return None, tail, pat.fullmatch
    if kind == "regexp":
        # the walk matches with Python's re, the deferred join with
        # Spark's Java regex: a pattern must sit in their common subset,
        # and one Python rejects fails here on either route
        try:
            rx = _re.compile(q)
        except _re.error as e:
            raise ValueError(f"unsupported regexp {q!r}: {e}") from None
        return _regex_literal_prefix(q), "", rx.fullmatch
    raise ValueError(
        f"kind must be fuzzy|prefix|wildcard|regexp, got {kind!r}"
    )


class TermStats:
    """A snapshot's one source of document frequencies, in one of two
    shapes (results are identical across them, asserted in tests):

    - held: the vocabulary's {term: df} in a driver dict, the in-heap
      term dictionary an ES data node keeps. Lookups and multi-term
      expansion run no Spark job.
    - lookup: pushdown-filtered lookups against the (term, df) `table`,
      behind a driver LRU of query-touched dfs (`lru_max` entries; 0
      negative-caches an OOV term). A cold snapshot looks the segment
      dictionaries up unaggregated, with no persist (_sum_df); pinned
      from an index, it holds their part `files` open (open_parts) and
      reads the query terms' rows on the driver with pyarrow
      (localread.read_df), no job, until close(). A warm session whose
      dictionary overflows `vocab_cache_max` aggregates it once into
      `n_shards` range-partitioned shards cached executor-side (Lucene
      holds its terms index per shard, not on one node); multi-term
      expansion then collects only the pattern's prefix/suffix WINDOW
      through range predicates that prune the cached shards. Driver heap
      is O(lru_max + largest expansion window), never O(vocab): at
      10^8-10^9 web-vocab terms a held dict would be tens of GB.
    """

    def __init__(
        self,
        table: Callable[[], DataFrame | None] | None = None,
        df_map: dict[str, int] | None = None,
        lru_max: int = DF_LRU_MAX,
        n_shards: int = 0,
        files: list[pq.ParquetFile] | None = None,
    ):
        # `table` is a function that opens the frame at its first use:
        # a snapshot whose lookups read `files` (the open local part
        # files behind the table, pinned with it) opens it only for a
        # route that needs Spark (an expansion, a sharded session, a
        # federated union)
        self._open_table = table or (lambda: None)
        self.files = files
        self._df_map = df_map
        self._df_lru: "OrderedDict[str, int]" = OrderedDict()
        self._df_lru_max = lru_max
        self._n_shards = n_shards
        self._rtable: DataFrame | None = None  # reversed-term twin, lazy
        # sorted term arrays for bisect prefix windows (held shape,
        # built lazily): the in-heap shape of Lucene's terms-index FST,
        # so expansion walks only the matching prefix RANGE. The
        # reversed-term twin serves leading wildcards (*suffix) the
        # same way, Lucene's reverse-field trick.
        self._vocab_arr: list[str] | None = None
        self._rvocab_arr: list[str] | None = None

    @classmethod
    def open(
        cls,
        source: "TermStats",
        vocab_cache_max: int | None,
        lru_max: int,
        n_shards: int,
    ) -> "TermStats":
        """A warm session's TermStats over the lookup-shaped `source`
        (its table aggregated, or the unaggregated segment
        dictionaries): held when the table has at most
        `vocab_cache_max` rows, df summed on the driver, else sharded.
        With open part `files`, pyarrow counts the rows from the footers
        and reads the held map on the driver, no job. Otherwise one job
        collects at most vocab_cache_max + 1 rows, so choosing the shape
        never pulls the vocabulary to the driver (coalesce(1): a limit
        over many partitions is collected by incremental take, one job
        per round). Only the sharded shape aggregates, because the
        distributed expansion join needs one row per term."""
        if source.files is not None:
            held = read_df_map(source.files, vocab_cache_max)
            if held is not None:
                return cls(df_map=held)
        else:
            head = source.table
            if vocab_cache_max is not None:
                head = head.coalesce(1).limit(vocab_cache_max + 1)
            rows = head.collect()
            if vocab_cache_max is None or len(rows) <= vocab_cache_max:
                return cls(df_map=_sum_df(rows))
        shards = (
            source.dictionary.repartitionByRange(n_shards, "term").persist()
        )
        return cls(lambda: shards, lru_max=lru_max, n_shards=n_shards)

    @cached_property
    def table(self) -> DataFrame | None:
        """The (term, df) lookup table, opened at first use."""
        return self._open_table()

    @property
    def dictionary(self) -> DataFrame:
        """The lookup table as (term, df) with one row per term."""
        if self._n_shards:
            return self.table  # the shards are aggregated already
        return self.table.groupBy("term").agg(
            F.sum("df").cast("long").alias("df")
        )

    def df(self, terms: list[str]) -> dict[str, int]:
        """{term: df} for the vocabulary terms among `terms`: a dict
        read when held, else LRU hits plus ONE lookup for the misses:
        pyarrow over the open part files when held, else a
        pushdown-filtered collect of the table, df summed per term
        (_sum_df). Absent terms are negative-cached as 0, so a repeated
        OOV query costs no lookup."""
        if self._df_map is not None:
            return {t: self._df_map[t] for t in terms if t in self._df_map}
        out: dict[str, int] = {}
        missing: set[str] = set()
        for t in terms:
            v = self._df_lru.get(t)
            if v is None:
                missing.add(t)
            else:
                self._df_lru.move_to_end(t)
                if v > 0:
                    out[t] = v
        if missing:
            keys = sorted(missing)
            found = (
                read_df(self.files, keys)
                if self.files is not None
                else _sum_df(
                    self.table.filter(F.col("term").isin(keys)).collect()
                )
            )
            self._lru_put({t: found.get(t, 0) for t in missing})
            out.update(found)
        return out

    def _lru_put(self, dfs: dict[str, int]) -> None:
        self._df_lru.update(dfs)
        while len(self._df_lru) > self._df_lru_max:
            self._df_lru.popitem(last=False)

    def _expand(
        self,
        queries: list[tuple[int, str]],
        kind: str,
        max_edits: int,
        prefix_length: int,
        field: str = "",
        transpositions: bool = False,
    ) -> dict[int, list[str]]:
        """Multi-term expansion against the term dictionary: {query_id:
        its sorted DISTINCT expansion}, so a term that two patterns of
        one query reach scores once. `field` is a fields=... index's
        posting-key prefix ('<field>:'): patterns match that field's
        slice of the vocabulary with the prefix stripped, and the
        expansion keeps it. `transpositions` counts an adjacent swap as
        one edit (fuzzy, max_edits=1).

        Held, this is a pure in-memory vocabulary walk (exactly what an
        ES coordinating/data node does against its in-heap terms index —
        no cluster round-trip). In the lookup shape the same walk runs
        against windows FETCHED from the table: every forward prefix
        window of the call in ONE prefix_windows read (pyarrow over the
        part files a pin holds, no job), a pattern anchored only at its
        end its reversed-suffix range — the driver never holds the
        vocabulary — while the rare both-ends-open pattern (*a*, an
        unanchored regexp) routes to the one-pass distributed expansion
        join (fuzzy.expand)."""
        from mario_spark import fuzzy as fuzzymod

        held = self._df_map is not None
        deferred: list[tuple[int, str]] = []
        walks = []
        for qid, q in queries:
            head, tail, match = _pattern(
                kind, q, max_edits, prefix_length, transpositions
            )
            if held or head or tail:
                walks.append((int(qid), head, tail, match))
            else:
                deferred.append((int(qid), q))
        windows = self.prefix_windows(
            sorted({field + h for _, h, _, _ in walks if h is not None})
        )
        n = len(field)
        out: dict[int, set[str]] = {}
        for qid, head, tail, match in walks:
            cands = (
                windows[field + head] if head is not None
                else [t for t in self._suffix_window(tail)
                      if t.startswith(field)]
            )
            out.setdefault(qid, set()).update(
                t for t in cands if match(t[n:])
            )
        if deferred:
            dic = self.dictionary
            if field:
                dic = dic.filter(F.col("term").startswith(field)).select(
                    F.col("term").substr(F.lit(n + 1), F.length("term"))
                    .alias("term"),
                    "df",
                )
            qdf = local_frame(
                self.table.sparkSession, deferred, "query_id long, term string"
            )
            exp = fuzzymod.expand(
                kind, dic, qdf, max_edits, prefix_length, transpositions
            )
            for r in exp.collect():
                out.setdefault(int(r["query_id"]), set()).add(
                    field + r["term"]
                )
        return {qid: sorted(ts) for qid, ts in out.items() if ts}

    def prefix_windows(self, prefixes: list[str]) -> dict[str, list[str]]:
        """{prefix: sorted vocabulary terms starting with it} for a
        batch of prefixes. Held: bisect windows over the sorted term
        array, O(log V + window) each and no job; an empty prefix gets
        the whole vocabulary. Lookup shape: ONE read of the OR of the
        prefix ranges (_window), whose dfs prime the LRU, since the
        caller scores the window terms right after. Callers pass
        non-empty prefixes in the lookup shape (_expand routes
        unanchored patterns to the distributed expansion)."""
        if not prefixes:
            return {}
        if self._df_map is not None:
            if self._vocab_arr is None:
                self._vocab_arr = sorted(self._df_map)
            arr = self._vocab_arr
        else:
            arr = self._window("term", prefixes)
        return {p: arr[slice(*_prefix_range(arr, p))] for p in prefixes}

    def _suffix_window(self, sfx: str) -> list[str]:
        """All vocabulary terms ENDING with `sfx` — Lucene's
        reverse-field trick for leading wildcards: *suffix becomes a
        prefix window over the reversed vocabulary, O(log V + window)
        instead of O(V). Held: bisect a reversed-term sorted array
        (built lazily on the first leading-wildcard query; an empty
        suffix returns the whole vocabulary). Lookup shape: collect the
        reversed-prefix range from a lazily built, range-partitioned
        reversed-term twin of the table."""
        if self._df_map is not None:
            if self._rvocab_arr is None:
                self._rvocab_arr = sorted(t[::-1] for t in self._df_map)
            arr = self._rvocab_arr
            if not sfx:
                return [t[::-1] for t in arr]
            lo, hi = _prefix_range(arr, sfx[::-1])
            return [t[::-1] for t in arr[lo:hi]]
        assert sfx, "a suffix window lookup needs a non-empty literal"
        if self._rtable is None:
            self._rtable = self.table.select(
                F.reverse("term").alias("rterm"), "term", "df"
            )
            if self._n_shards:
                self._rtable = self._rtable.repartitionByRange(
                    self._n_shards, "rterm"
                ).persist()
        return self._window("rterm", [sfx[::-1]])

    def _window(self, col: str, prefixes: list[str]) -> list[str]:
        """Sorted terms whose `col` starts with one of `prefixes`: the
        table's `term`, or the reversed-term twin's `rterm`. Their dfs,
        summed per term (the unaggregated segment dictionaries count
        every segment), prime the LRU. A forward window over held part
        files is read on the driver with pyarrow (localread.
        read_range_df), no job; otherwise ONE collect of the OR of the
        ranges (the range bounds prune non-overlapping cached shards,
        _sum_df)."""
        assert all(prefixes), "a window lookup needs non-empty literals"
        ranges = [(pfx, _prefix_ub(pfx)) for pfx in prefixes]
        if col == "term" and self.files is not None:
            found = read_range_df(self.files, ranges)
        else:
            cond = None
            for lo, ub in ranges:
                c = F.col(col) >= lo
                if ub is not None:
                    c = c & (F.col(col) < ub)
                cond = c if cond is None else cond | c
            table = self.table if col == "term" else self._rtable
            found = _sum_df(table.filter(cond).select("term", "df").collect())
        self._lru_put(found)
        return sorted(found)

    def warm(self) -> None:
        if self._n_shards:
            self.table.count()  # materialize the dictionary shards

    def close(self) -> None:
        """Close the part files this TermStats holds and unpersist the
        shards it cached, if any."""
        close_parts(self.files)
        if self._n_shards:
            self.table.unpersist()
            if self._rtable is not None:
                self._rtable.unpersist()


class Snapshot:
    """A point-in-time reader: the one handle every search reads an
    index through (Lucene's reader over one commit). It holds

    - `postings`, the segments' posting blocks, opened at first use
      (`postings` may be the frame or a function that opens it, like
      TermStats' table); `postings_files` holds their part files open
      when pinned from a local index (open_pit maps them at pin time);
    - `terms`, the TermStats every df comes from;
    - `n_docs`/`avgdl`, and `field_stats` = {field: (n_docs, avgdl)}
      of a fields=... index (empty otherwise) with each field's
      analyzer in `analyzers`;
    - `deleted_docs`, the tombstoned doc ids, collected into one sorted
      array (`deleted`) at first use and at most once: read on the
      driver with pyarrow when their part files are held open
      (`deleted_files`, as open_pit pins them), else collected;
    - `segments` = {segment id: commit marker} when pinned from an
      index.

    Index.open_pit pins one from the commit markers; every cold Index
    search pins its own; QuerySession is one whose postings and term
    statistics are cached. The search bodies below are shared by all
    of them, so cold, warm and federated results are identical
    (asserted in tests). Tombstones use Lucene live-docs semantics:
    deleted docs never surface, while collection stats keep counting
    them until a compaction purges the postings.

    Every body ends in scatter_gather, which scores a batch whose
    candidate postings fit under DRIVER_LIMIT on the driver (the one
    limit every Snapshot shares, a positional candidate counting
    POSITIONAL_WEIGHT; the term routes take a per-call `driver_limit`,
    0 forcing the distributed route). With `postings_files` it reads
    the pruned postings with pyarrow, so a small call over a local
    index, cold or on a session, runs no Spark job; without (a
    frame-built snapshot or session, an object-store index) it
    collects them in one job.

    The part files it holds stay readable until close() (`with
    idx.open_pit() as pit:` closes on exit) or until the snapshot is
    dropped, even after a merge removes them from disk: Lucene's
    reader over a commit, which keeps a merged-away file until its
    last reader closes. That costs one file descriptor per held part
    file, and a removed file's disk space comes back only when its last
    reader closes.
    """

    def __init__(
        self,
        postings: DataFrame | Callable[[], DataFrame | None] | None,
        terms: TermStats,
        n_docs: float,
        avgdl: float,
        field_stats: dict[str, tuple[int, float]] | None = None,
        deleted_docs: Callable[[], DataFrame | None] | None = None,
        analyzers: dict[str, str] | None = None,
        name: str | None = None,
        segments: dict[int, dict] | None = None,
        deleted_files: list[pq.ParquetFile] | None = None,
        postings_files: list[pq.ParquetFile] | None = None,
    ):
        self._open_postings = (
            postings if callable(postings) else (lambda: postings)
        )
        self.postings_files = postings_files
        self.terms = terms
        self.n_docs, self.avgdl = float(n_docs), float(avgdl)
        self.field_stats = field_stats or {}
        self._open_deleted = deleted_docs or (lambda: None)
        self.analyzers = analyzers or {}
        self.name = name
        self.segments = segments
        self.deleted_files = deleted_files

    @cached_property
    def postings(self) -> DataFrame | None:
        """The postings frame, opened at first use: the distributed
        route and a snapshot without part files scan it."""
        return self._open_postings()

    @property
    def spark(self) -> SparkSession:
        """The session result frames are built in; asking for it opens
        no postings frame."""
        return SparkSession.active()

    @cached_property
    def deleted_docs(self) -> DataFrame | None:
        """The tombstone frame, opened at first use (`deleted_docs` is
        a function, like TermStats' table)."""
        return self._open_deleted()

    @cached_property
    def deleted(self) -> np.ndarray | None:
        """The tombstoned doc ids, sorted unique (None when there are
        none): they ride in the kernels' task closures."""
        if self.deleted_files is not None:
            return read_doc_ids(self.deleted_files)
        if self.deleted_docs is None:
            return None
        rows = self.deleted_docs.select("doc_id").collect()
        arr = np.array([r["doc_id"] for r in rows], dtype=np.int64)
        return np.unique(arr) if arr.size else None

    def close(self) -> None:
        """Release the part files this snapshot holds open (postings,
        dictionary, tombstones); a closed snapshot reads them no more."""
        close_parts(self.postings_files)
        close_parts(self.deleted_files)
        self.terms.close()

    def __enter__(self) -> "Snapshot":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    @property
    def _label(self) -> str:
        return f"index '{self.name}'" if self.name else "the snapshot's index"

    def scope(
        self, field: str | None, arg: str = "field"
    ) -> tuple[str, float, float]:
        """(posting-key prefix, n_docs, avgdl) for a search over `field`:
        a fields=... index needs one of its fields (postings are keyed
        `<field>:<term>` and a field scores with its own stats), any
        other index none. `arg` names the caller's argument."""
        have = sorted(self.field_stats)
        if not have:
            if field is not None:
                raise ValueError(
                    f"{self._label} has no fields config; {arg} only "
                    "applies to a fields=... index"
                )
            return "", self.n_docs, self.avgdl
        if field is None:
            raise ValueError(
                f"{self._label} is field-scoped; pass {arg}=... "
                f"(one of {have})"
            )
        if field not in self.field_stats:
            raise ValueError(f"unknown field '{field}'; index has {have}")
        n, ad = self.field_stats[field]
        return f"{field}:", float(n), float(ad)

    def require_positions(self, what: str) -> None:
        columns = (
            read_columns(self.postings_files[0]) if self.postings_files
            else self.postings.columns
        )
        if "poss" not in columns:
            raise ValueError(
                f"{self._label} was built without positions; {what} "
                "needs an index ingested with positions=True"
            )

    def _tokens(self, text: str, field: str | None) -> list[str]:
        """`text` analyzed with `field`'s analyzer (ES analyzes query
        text with the target field's search analyzer: a shingle field
        turns "data table scan" into its 2-shingles), distinct and
        order-stable."""
        from mario_spark.analyze import py_shingles, py_tokenize

        if self.analyzers.get(field) == "shingle":
            return list(dict.fromkeys(py_shingles(text)))
        return list(dict.fromkeys(py_tokenize(text)))

    def search(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        conjunctive: bool = False,
        driver_limit: int | None = None,
        field: str | None = None,
        must_not: list[tuple[int, str]] | None = None,
        min_should_match: int = 1,
        filter_terms: list[str] | None = None,
    ) -> DataFrame:
        """[(query_id, raw text)] -> (query_id, rank, doc_id, score),
        analyzed driver-side (a query is a handful of terms — no Spark
        job) and scored by search_terms.

        filter_terms: ES filter context (filtered alias) — raw terms,
        analyzed like the query; docs must contain at least one,
        unscored (see search_wand).

        must_not: [(query_id, raw text)] analyzed the same way — ES
        bool.must_not filter context (see search_wand).
        min_should_match: ES minimum_should_match over the OR terms.
        field: search one field of a fields=... index, scored with the
        field's own statistics (fields.py semantics).
        """
        nmap: dict[int, list[str]] = {}
        for qid, text in must_not or []:
            nmap.setdefault(int(qid), []).extend(self._tokens(text, field))
        flist: list[str] | None = None
        if filter_terms:
            flist = sorted(
                {t for raw in filter_terms for t in self._tokens(raw, field)}
            )
        return self.search_terms(
            [(int(qid), self._tokens(text, field)) for qid, text in queries],
            k, conjunctive, driver_limit, field, nmap or None,
            min_should_match, flist,
        )

    def search_terms(
        self,
        queries: list[tuple[int, list[str]]],
        k: int = 10,
        conjunctive: bool = False,
        driver_limit: int | None = None,
        field: str | None = None,
        must_not: dict[int, list[str]] | None = None,
        min_should_match: int = 1,
        filter_terms: list[str] | None = None,
    ) -> DataFrame:
        """The term-query body every route shares, over ANALYZED
        [(query_id, [terms])] (must_not = {query_id: [terms]}; see
        search for the semantics): ONE TermStats consult covers the
        scoring idfs and the batch's candidate volume, then the WAND
        kernel scores (_run_kernel)."""
        pfx, n_docs, avgdl = self.scope(field)
        if pfx:
            queries = [(q, [pfx + t for t in ts]) for q, ts in queries]
            must_not = must_not and {
                q: [pfx + t for t in ts] for q, ts in must_not.items()
            }
            filter_terms = filter_terms and [pfx + t for t in filter_terms]
        queries = [(q, ts) for q, ts in sorted(queries) if ts]
        terms = sorted({t for _, ts in queries for t in ts})
        dfm = self.terms.df(_scan_terms(terms, must_not, filter_terms))
        idf_map = {
            t: _idf(n_docs, float(dfm[t])) for t in terms if t in dfm
        }
        return _run_kernel(
            self, queries, idf_map, avgdl, k, conjunctive,
            must_not, min_should_match, self.deleted, filter_terms,
            dfm=dfm, limit=driver_limit,
        )

    def search_cross_fields(
        self,
        queries: list[tuple[int, str]],
        boosts: dict[str, float],
        k: int = 10,
        driver_limit: int | None = None,
    ) -> DataFrame:
        """ES multi_match type=cross_fields served THROUGH the block-max
        WAND kernel (Lucene runs BlendedTermQuery under its WANDScorer
        the same way). Semantics match fields.search_cross_fields
        exactly (rank-identical, asserted in tests): per term, df
        blends to the MAX across the searched fields (capped at each
        field's docCount), each (field, term) scores BM25 with the
        blended idf but the FIELD's own length norm and boost, the best
        field wins per (query, term, doc) (dis_max, tie_breaker=0), doc
        score = sum over terms.

        Kernel mapping: each query term becomes a GROUP of
        field-prefixed member terms; boost x blended-idf rides in the
        member's idf slot and the field's avgFieldLength in avgdl_map,
        so _TermData's contribution formula IS the cross-field
        per-member score. Block-max pruning stays active at the group
        level — see _bucket_kernel's docstring for the soundness
        argument (pinned by a prune-count kernel test)."""
        if not self.field_stats:
            raise ValueError(
                "cross_fields needs a field-scoped snapshot "
                "(construct with field_stats={field: (n_docs, avgdl)})"
            )
        unknown = sorted(set(boosts) - set(self.field_stats))
        if unknown:
            raise ValueError(
                f"no field_stats for {unknown} "
                f"(have {sorted(self.field_stats)})"
            )
        qtok = [(int(qid), self._tokens(text, None)) for qid, text in queries]
        base_terms = sorted({t for _, ts in qtok for t in ts})
        dfm = self.terms.df(
            [f"{f}:{t}" for t in base_terms for f in boosts]
        )
        idf_map: dict[str, float] = {}
        avgdl_map: dict[str, float] = {}
        for t in base_terms:
            bdf = max(
                (dfm.get(f"{f}:{t}", 0) for f in boosts), default=0
            )
            if bdf <= 0:
                continue
            for f, boost in boosts.items():
                key = f"{f}:{t}"
                if key not in dfm:
                    continue  # term absent from this field: no member
                n_f, ad_f = (float(v) for v in self.field_stats[f])
                dfc = min(float(bdf), n_f)
                idf_map[key] = float(boost) * _idf(n_f, dfc)
                avgdl_map[key] = ad_f if ad_f else 1.0
        groups: dict[int, list[list[str]]] = {}
        qlist: list[tuple[int, list[str]]] = []
        for qid, ts in sorted(qtok):
            gs = [
                m
                for m in (
                    [
                        f"{f}:{t}"
                        for f in boosts
                        if f"{f}:{t}" in idf_map
                    ]
                    for t in ts
                )
                if m
            ]
            if gs:
                groups[qid] = gs
                qlist.append((qid, [t for g in gs for t in g]))
        return _run_kernel(
            self, qlist, idf_map, self.avgdl, k, False,
            deleted=self.deleted, groups=groups, avgdl_map=avgdl_map,
            dfm=dfm, limit=driver_limit,
        )

    def search_phrase(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        slop: int = 0,
        field: str | None = None,
    ) -> DataFrame:
        """match_phrase over a positions=True index: [(query_id, raw
        phrase text)] -> (query_id, rank, doc_id, score). On a
        fields=... index the phrase matches within `field`'s position
        stream (ordinals are per-field, so a phrase never spans a field
        boundary) and scores with the field's statistics. The body is
        phrase.search_phrase (slop semantics there)."""
        from mario_spark import phrase as ph
        from mario_spark.analyze import py_tokenize

        return ph.search_phrase(
            self,
            [(int(qid), py_tokenize(text)) for qid, text in queries],
            k, slop, field,
        )

    def search_query_string(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        default_field: str | None = None,
    ) -> DataFrame:
        """The query_string mini-language (bare/+/-/"phrase" clauses)
        over a positions=True index: term clauses read tf from the
        positional postings, phrase clauses run the chain matcher,
        Lucene BooleanQuery matching applies, tombstones are masked.
        Rank-identical to qs.search_query_string over the raw pages
        and to the DuckDB oracle qs.query_string_sql (asserted in
        tests). The body is qs._rank_query_strings, which
        qs.search_simple_query_string shares.

        On a fields=... index pass `default_field` (the ES option) for
        unprefixed atoms; the `field:term` / `field:"a phrase"` syntax
        is live and each clause scores with ITS field's
        df/docCount/avgFieldLength (rank-identical to the DuckDB oracle
        qs.query_string_fields_sql)."""
        from mario_spark import qs as qsmod

        self.require_positions("query_string phrase clauses")
        if self.field_stats or default_field is not None:
            self.scope(default_field, "default_field")
            stats = self.field_stats
        else:
            stats = {None: (self.n_docs, self.avgdl)}
        return qsmod._rank_query_strings(
            self, qsmod._indexed_clauses(queries, default_field), stats, k
        )

    def search_multiterm(
        self,
        queries: list[tuple[int, str]],
        kind: str = "fuzzy",
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 1,
        driver_limit: int | None = None,
        field: str | None = None,
        transpositions: bool = False,
    ) -> DataFrame:
        """fuzzy / prefix / wildcard / regexp: [(query_id, raw
        pattern)] -> (query_id, rank, doc_id, score), the one multi-term
        body (Lucene MultiTermQuery, SCORING_BOOLEAN_REWRITE). A pattern
        is not analyzed. It expands against the TermStats vocabulary
        (TermStats._expand): fuzzy = classic Levenshtein <= max_edits
        sharing the first prefix_length chars (transpositions=True: ES
        fuzzy's adjacent swap as one edit, OSA distance <= 1, which
        needs max_edits=1); prefix; wildcard (whole-term * / ?); regexp
        (whole-term anchored). Each query's distinct expansion then
        scores like search_terms, each variant with its own idf. On a
        fields=... index pass `field`: the pattern expands against that
        field's vocabulary and scores with its df/n_docs/avgdl (ES
        fuzzy/prefix/wildcard/regexp on one mapped field)."""
        if transpositions and (kind != "fuzzy" or max_edits != 1):
            raise ValueError(
                "transpositions applies to kind='fuzzy' with max_edits=1 "
                "(OSA distance <= 1)"
            )
        pfx, n_docs, avgdl = self.scope(field)
        qmap = self.terms._expand(
            queries, kind, max_edits, prefix_length, pfx, transpositions
        )
        qlist = sorted(qmap.items())
        dfm = self.terms.df(sorted({t for _, ts in qlist for t in ts}))
        return _run_kernel(
            self, qlist, df_to_idf(dfm, n_docs), avgdl,
            k, False, deleted=self.deleted, dfm=dfm, limit=driver_limit,
        )


class QuerySession(Snapshot):
    """Warm query-serving handle: a Snapshot holding the state a search
    engine's coordinating node keeps between queries.

    - postings re-partitioned ON dbucket and cached for the distributed
      route: groupBy(dbucket) then reuses the cached partitioning, so a
      query runs WITHOUT a shuffle stage (the cold path pays one per
      query);
    - the coordinator route reads the pinned part files `pit` holds
      open, with pyarrow as a cold call does, so a small warm query
      runs no Spark job; without a `pit` (a frame-built session, or a
      pin of an object-store index) it collects its pruned postings
      from the cache in one JVM-only job;
    - term statistics opened once (TermStats.open): held in a driver
      dict while the dictionary has at most `vocab_cache_max` rows,
      else sharded executor-side behind a `df_lru_max`-entry LRU.
      `dictionary` is a (term, df) frame, or the TermStats of a pinned
      snapshot, whose part files are then read on the driver;
    - tombstones: `pit`'s, read at construction, so Index.open_session
      runs no job before warm().

    `pit` is the Snapshot Index.open_session pins; the session owns it
    from then on and closes it with itself. The search bodies and the
    coordinator route (DRIVER_LIMIT) are Snapshot's, so results are
    bit-identical to the cold paths (asserted in tests); a distributed
    query saves its per-query dbucket shuffle. Serves field-scoped
    indexes too: pass field_stats={field: (n_docs, avgdl)} and
    search(field=...).

    The cached frames and `pit`'s open part files live until close();
    `with idx.open_session() as s:` closes on exit. Until then the
    session holds one file descriptor per part file, and a merged-away
    segment's disk space comes back only when it closes.
    """

    def __init__(
        self,
        postings: DataFrame,
        dictionary: DataFrame | TermStats,
        n_docs: int,
        avgdl: float,
        n_buckets: int | None = None,
        field_stats: dict[str, tuple[int, float]] | None = None,
        vocab_cache_max: int | None = VOCAB_CACHE_MAX,
        df_lru_max: int = DF_LRU_MAX,
        pit: Snapshot | None = None,
    ):
        n = n_buckets or postings.sparkSession.sparkContext.defaultParallelism
        terms = (
            dictionary if isinstance(dictionary, TermStats)
            else TermStats(lambda: dictionary)
        )
        super().__init__(
            postings.repartition(n, "dbucket").persist(),
            TermStats.open(terms, vocab_cache_max, df_lru_max, n),
            n_docs, avgdl, field_stats,
            postings_files=pit and pit.postings_files,
        )
        self._pit = pit
        if pit is not None:
            # read now: the session keeps its tombstones even after
            # clear_deletes drops the generation files
            self.deleted = pit.deleted

    def warm(self) -> "QuerySession":
        self.postings.count()
        self.terms.warm()
        return self

    def close(self) -> None:
        self.postings.unpersist()
        self.terms.close()
        if self._pit is not None:
            self._pit.close()
