"""Federated (multi-index) search — ES's `index1,index2/_search`.

ES fans a query out to every shard of every targeted index, each shard
returns a local top-k, and the coordinating node merges by score. The
subtlety is WHICH statistics score the shards:

- query_then_fetch (ES default): every shard scores with its OWN
  df/docCount — scores across indexes are not strictly comparable (the
  well-known relevance quirk on skewed multi-index layouts).
- dfs_query_then_fetch: a pre-phase gathers GLOBAL term/collection
  statistics, distributes them to the shards, and only then does each
  shard compute its local top-k — merged ranking equals what ONE
  combined index would produce.

Both modes map exactly onto this engine: an Index is the shard, its
pinned Snapshot reads its postings and tombstones, and a Snapshot's
TermStats is its only df source — so dfs mode is just "score every
member's snapshot with one TermStats over all members' dictionaries
and the summed collection stats". That TermStats and the dfs snapshots
read the part files the members' pins hold open; the pins are closed
once the members' hits are in. The merge ranks the members'
|indexes| x k rows per query on the driver, as the coordinating node
does.
"""

from __future__ import annotations

from contextlib import ExitStack
from functools import reduce
from itertools import groupby, islice

import numpy as np
from pyspark.sql import DataFrame

from mario_spark.session import local_frame
from mario_spark.wand import Snapshot, TermStats, _by_query, round_half_up

SCHEMA = "query_id long, rank long, index string, doc_id long, score double"


def search_indexes(
    catalog,
    names: list[str],
    query_terms: DataFrame,
    k: int = 10,
    mode: str = "dfs_query_then_fetch",
    filter_terms: list[str] | None = None,
    indices_boost: dict[str, float] | None = None,
) -> DataFrame:
    """-> (query_id, rank, index, doc_id, score) across `names`.

    mode="dfs_query_then_fetch": global df (summed dictionaries) +
    global n_docs/avgdl score every index — rank-identical to a single
    combined index (tested). mode="query_then_fetch": per-index stats,
    ES's default trade-off.

    indices_boost = ES's `indices_boost` search option: each index's
    hit scores multiply by its boost BEFORE the coordinator merge, so a
    preferred index (the fresh crawl, say) outranks equal-relevance
    hits from the others. Applied coordinator-side on the |indexes| x k
    candidate rows — zero extra distributed work.
    """
    if mode not in ("dfs_query_then_fetch", "query_then_fetch"):
        raise ValueError(f"unknown mode {mode!r}")
    idxs = [(n, catalog.open(n)) for n in names]
    return _search_opened(idxs, query_terms, k, mode, filter_terms,
                          indices_boost)


def search_clusters(
    targets: list[tuple[object, str]],
    query_terms: DataFrame,
    k: int = 10,
    mode: str = "dfs_query_then_fetch",
) -> DataFrame:
    """Cross-cluster search (ES `remote:index` targets): identical
    merge to search_indexes but the targets span CATALOGS — separate
    roots standing in for separate clusters. `targets` =
    [(catalog, index_name)]; result index labels are
    "<root-basename>:<name>" so hits are attributable to their
    cluster, like ES's `_index` with the remote prefix."""
    import os

    if mode not in ("dfs_query_then_fetch", "query_then_fetch"):
        raise ValueError(f"unknown mode {mode!r}")
    idxs = [
        (f"{os.path.basename(cat.root)}:{n}", cat.open(n))
        for cat, n in targets
    ]
    return _search_opened(idxs, query_terms, k, mode)


def _search_opened(
    idxs,
    query_terms: DataFrame,
    k: int,
    mode: str,
    filter_terms: list[str] | None = None,
    indices_boost: dict[str, float] | None = None,
) -> DataFrame:
    with ExitStack() as pins:
        # one pinned Snapshot per member; empty members (fresh rollover
        # targets) contribute nothing — exactly an empty ES index in a
        # multi-index search. Each pin holds its part files open until
        # the members' hits are in
        snaps = [
            (n, snap)
            for n, snap in (
                (n, pins.enter_context(idx.open_pit())) for n, idx in idxs
            )
            if snap.segments
        ]
        if not snaps:
            return local_frame(query_terms.sparkSession, [], SCHEMA)
        queries = sorted(_by_query(query_terms).items())
        if mode == "dfs_query_then_fetch":
            # the dfs pre-phase: ONE TermStats over every member's
            # segment dictionaries (its lookup runs once, then serves
            # every member from its LRU) and the summed collection stats;
            # it and the dfs snapshots below read the members' open files
            members = [s for _, s in snaps]
            files = [s.terms.files for s in members]
            terms = TermStats(
                lambda: reduce(
                    DataFrame.unionByName, [s.terms.table for s in members]
                ),
                files=(
                    None if None in files else [f for fs in files for f in fs]
                ),
            )
            n = sum(s.n_docs for _, s in snaps)
            avgdl = (
                sum(s.avgdl * s.n_docs for _, s in snaps) / n if n else 0.0
            )
            snaps = [
                (name, Snapshot(lambda s=s: s.postings, terms, n, avgdl,
                                deleted_docs=lambda s=s: s.deleted_docs,
                                deleted_files=s.deleted_files,
                                postings_files=s.postings_files))
                for name, s in snaps
            ]
        # each member's result is a local relation (collecting it runs
        # no job); boosted scores round as Spark's round(score * boost, 4)
        hits = []
        for name, snap in snaps:
            rows = snap.search_terms(queries, k, filter_terms=filter_terms)
            rows = rows.collect()
            boost = float((indices_boost or {}).get(name, 1.0))
            score = round_half_up(
                np.array([r["score"] for r in rows]) * boost
            )
            hits += [
                (r["query_id"], -s, name, r["doc_id"])
                for r, s in zip(rows, score.tolist())
            ]
    hits.sort()  # score desc, then index, then doc_id, per query
    out = [
        (q, rank, name, doc, -s)
        for q, group in groupby(hits, key=lambda h: h[0])
        for rank, (_, s, name, doc) in enumerate(islice(group, k), 1)
    ]
    return local_frame(query_terms.sparkSession, out, SCHEMA)
