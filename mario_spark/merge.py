"""Segment merge / compaction (B8).

Mario gets segment merging for free from Lucene's background merges
(segments appear because every ES bulk append creates them —
/root/reference/pkg/client/elastic.go:102-108); this module re-expresses
it Spark-first.

Two regimes:
- **Logical merge is free.** Segments are doc-disjoint and aligned to
  the shared dbucket grid (index.py pins range_width per index), so the
  query path already reads the union of segments with no rewrite —
  exactly like Lucene searching multiple segments.
- **Compaction (this module)** physically rewrites K segments into one:
  decode blocks back to tf rows (vectorized mapInPandas), then the same
  salted repartitionByRange(term, dbucket) + sort + re-encode as a
  fresh build (postings.encode_tf_rows). This is a distributed
  sort-merge on (term, doc_id); head-term skew is handled the same way
  as at build time — the dbucket grid splits any term's postings across
  partitions, so no task ever holds a full stop-word posting list.
  Useful when many small ingests leave under-filled blocks (a block
  spanning two source segments gets re-packed to 128 docs).

Commit protocol: the merged segment is written under a NEW segment id,
its _seg.json rename is the commit, and only then are the source
segment directories removed — a crash at any point leaves a readable
index (either the old segments or old+new never overlap doc ranges
because the new segment's marker carries the union range and loaders
read only committed markers; source markers are deleted first).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mario_spark import codec
from mario_spark.index import Index, _atomic_write_json, _read_json, read_table
from mario_spark.postings import encode_tf_rows

TF_ROWS_SCHEMA = "term string, doc_id long, tf long, len long"
TF_ROWS_POS_SCHEMA = TF_ROWS_SCHEMA + ", positions array<int>"


def _decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Posting blocks -> raw tf rows, vectorized per Arrow batch. A
    positional index (poss column) round-trips its positions so
    compaction preserves phrase-query capability."""
    for pdf in batches:
        if not len(pdf):
            continue
        has_pos = "poss" in pdf.columns
        ids, tfs, lens, pos_rows = [], [], [], []
        counts = pdf["n"].to_numpy(np.int64)
        for r in pdf.itertuples(index=False):
            btfs = codec.vbyte_decode(r.tfs)
            ids.append(codec.decode_doc_ids(r.doc_ids))
            tfs.append(btfs)
            lens.append(codec.vbyte_decode(r.lens))
            if has_pos:
                from mario_spark.postings import decode_block_positions

                flat, starts = decode_block_positions(
                    r.poss, btfs.astype(np.int64)
                )
                pos_rows.extend(np.split(flat, starts[1:-1]))
        cols = {
            "term": np.repeat(pdf["term"].to_numpy(), counts),
            "doc_id": np.concatenate(ids),
            "tf": np.concatenate(tfs).astype(np.int64),
            "len": np.concatenate(lens).astype(np.int64),
        }
        if has_pos:
            cols["positions"] = pos_rows
        yield pd.DataFrame(cols)


def decode_to_tf_rows(postings: DataFrame) -> DataFrame:
    schema = (
        TF_ROWS_POS_SCHEMA if "poss" in postings.columns else TF_ROWS_SCHEMA
    )
    return postings.mapInPandas(_decode_partition, schema)


def compact_segments(
    index: Index,
    seg_ids: list[int] | None = None,
    purge_deletes: bool = True,
) -> int:
    """Rewrite the given (default: all) committed segments into one new
    segment. Returns the new segment id. Query results are unchanged
    (tests assert rank identity before/after).

    purge_deletes=True (the Lucene merge contract) physically drops
    tombstoned docs while rewriting: tf rows and the docs table
    anti-join the tombstone set, the dictionary and collection stats
    are RECOMPUTED from the surviving rows (df shrinks — queries after
    the purge score exactly as a fresh build over the survivors), and
    the tombstones are retired after the segment commit. Only applies
    when ALL committed segments compact together (a partial compaction
    cannot retire a tombstone that may hit other segments)."""
    p = index.paths
    committed = p.committed_segments()
    seg_ids = sorted(seg_ids if seg_ids is not None else committed)
    if not seg_ids or any(s not in committed for s in seg_ids):
        raise ValueError(f"segments not committed: {seg_ids}")
    meta = _read_json(p.meta)
    rw = meta["range_width"]
    new_id = max(committed) + 1

    # the generations this compaction purges: only these are retired
    # after the commit (a delete that commits meanwhile stays live)
    gens = (_read_json(p.deletes_marker) or {}).get("generations", [])
    deleted = index._tombstones(gens) if purge_deletes else None
    if deleted is not None and set(seg_ids) != set(committed):
        raise ValueError(
            "purging compaction must include every committed segment; "
            "pass purge_deletes=False for a partial compaction"
        )
    sp = index.spark
    post = index.postings(seg_ids)
    docs = index.docs(seg_ids)
    dic = index.dictionary(seg_ids)

    tf_rows = decode_to_tf_rows(post)
    purged_stats: dict | None = None
    purged_field_stats: dict[str, dict] | None = None
    if deleted is not None:
        tf_rows = tf_rows.join(F.broadcast(deleted), "doc_id", "left_anti")
        # A purging compaction reads tf_rows three times (recomputed
        # dictionary, field/collection stats, re-encode). Without a
        # persist each consumer would re-run the FULL postings decode;
        # MEMORY_AND_DISK spills rather than OOMs when the decoded
        # corpus exceeds executor memory (compaction is a batch
        # rewrite — disk-backed reuse is the right trade at any scale).
        from pyspark import StorageLevel

        tf_rows = tf_rows.persist(StorageLevel.MEMORY_AND_DISK)
        docs = docs.join(F.broadcast(deleted), "doc_id", "left_anti")
        # df changed: recompute the dictionary from surviving rows
        dic = tf_rows.groupBy("term").agg(
            F.count("*").cast("long").alias("df")
        )
        if meta.get("fields"):
            # Per-field (docCount, sumFieldLength) come straight from
            # the surviving postings: each tf row's `len` IS the field
            # length of that doc (field_tf emitted it), and field names
            # cannot contain ':' while tokens are letters/digits only,
            # so the prefix split is unambiguous. Lucene's docCount =
            # docs with >= 1 token in the field = docs present in the
            # field's postings — exactly this distinct set.
            frows = (
                tf_rows.select(
                    F.substring_index("term", ":", 1).alias("field"),
                    "doc_id",
                    "len",
                )
                .distinct()
                .groupBy("field")
                .agg(F.count("*").alias("n"), F.sum("len").alias("s"))
                .collect()
            )
            purged_field_stats = {
                r["field"]: {"n_docs": int(r["n"]), "sum_len": int(r["s"])}
                for r in frows
            }
            purged_stats = {
                "n_docs": int(docs.count()),
                "sum_len": sum(
                    v["sum_len"] for v in purged_field_stats.values()
                ),
            }
        else:
            row = docs.agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("len"), F.lit(0)).alias("s"),
            ).collect()[0]
            purged_stats = {"n_docs": int(row["n"]), "sum_len": int(row["s"])}
    merged = encode_tf_rows(tf_rows, rw)

    seg_dir = p.seg(new_id)
    os.makedirs(seg_dir, exist_ok=True)
    # Overlap the independent writes (same rationale as
    # Index._build_segment): docs doesn't depend on the merged
    # postings, and the dictionary write starts once the postings
    # write has materialized the shared tf_rows cache (purge path) or
    # reads the source dictionaries directly (plain path).
    from concurrent.futures import ThreadPoolExecutor

    # a sort_docs_by index keeps its invariant through compaction: the
    # merged docs file is re-sorted by the pinned key so threshold
    # predicates keep pruning row groups in the new segment
    sd = (_read_json(p.meta) or {}).get("sort_docs")
    docs_w = docs
    if sd:
        kc = F.col(sd["field"])
        docs_w = docs.orderBy(kc.desc() if sd["desc"] else kc.asc())

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_merged = pool.submit(
            lambda: merged.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "postings")
            )
        )
        f_docs = pool.submit(
            lambda: docs_w.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "docs")
            )
        )
        f_merged.result()
        # sorted by term within each file, as Index._build_segment
        # writes it: row-group statistics prune dictionary lookups
        f_dic = pool.submit(
            lambda: dic.sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(seg_dir, "dictionary"))
        )
        f_docs.result()
        f_dic.result()

    # consolidated manifest + stats for the new segment. A purging
    # compaction changed the physical blocks, so its manifest is
    # re-derived from the WRITTEN postings (read back from the new
    # segment — one columnar scan of tiny metadata columns), not summed
    # from the now-stale source manifests.
    mans = [_read_json(p.seg_meta(s)) for s in seg_ids]
    os.makedirs(os.path.join(p.base, "manifest"), exist_ok=True)
    if purged_stats is not None:
        man_src = (
            read_table(sp, os.path.join(seg_dir, "postings"))
            .groupBy("dbucket")
            .agg(
                F.sum("n").cast("long").alias("postings"),
                F.count("*").cast("long").alias("blocks"),
                (
                    F.sum(F.octet_length("doc_ids"))
                    + F.sum(F.octet_length("tfs"))
                    + F.sum(F.octet_length("lens"))
                )
                .cast("long")
                .alias("payload_bytes"),
            )
        )
    else:
        man_src = (
            read_table(
                sp,
                *[p.manifest(s) for s in seg_ids if os.path.exists(p.manifest(s))],
            )
            .groupBy("dbucket")
            .agg(
                F.sum("postings").alias("postings"),
                F.sum("blocks").alias("blocks"),
                F.sum("payload_bytes").alias("payload_bytes"),
            )
        )
    (
        man_src
        .withColumn("segment", F.lit(new_id))
        .withColumn("doc_lo", F.lit(min(m["doc_lo"] for m in mans)).cast("long"))
        .withColumn("doc_hi", F.lit(max(m["doc_hi"] for m in mans)).cast("long"))
        .write.mode("overwrite")
        .parquet(p.manifest(new_id))
    )
    # commit point (field stats stay additive across doc-disjoint segs)
    marker = {
        "status": "committed",
        "n_docs": (
            purged_stats["n_docs"]
            if purged_stats is not None
            else sum(m["n_docs"] for m in mans)
        ),
        "sum_len": (
            purged_stats["sum_len"]
            if purged_stats is not None
            else sum(m["sum_len"] for m in mans)
        ),
        "doc_lo": min(m["doc_lo"] for m in mans),
        "doc_hi": max(m["doc_hi"] for m in mans),
        "merged_from": seg_ids,
    }
    fs_all: dict[str, dict] = {}
    for m in mans:
        for f, st in (m.get("field_stats") or {}).items():
            a = fs_all.setdefault(f, {"n_docs": 0, "sum_len": 0})
            a["n_docs"] += st["n_docs"]
            a["sum_len"] += st["sum_len"]
    if purged_field_stats is not None:
        marker["field_stats"] = purged_field_stats
    elif fs_all:
        marker["field_stats"] = fs_all
    # union sort bounds stay VALID over the merged docs (a purge can
    # only shrink the true range; a too-wide bound costs extra scan,
    # never a wrong skip)
    sbs = [m.get("sort_bounds") for m in mans]
    if sbs and all(sbs):
        marker["sort_bounds"] = {
            "min": min(sb["min"] for sb in sbs),
            "max": max(sb["max"] for sb in sbs),
        }
    _atomic_write_json(p.seg_meta(new_id), marker)
    # retire sources: markers first (loaders stop seeing them), then data
    for s in seg_ids:
        os.remove(p.seg_meta(s))
    for s in seg_ids:
        shutil.rmtree(p.seg(s), ignore_errors=True)
        if os.path.exists(p.manifest(s)):
            shutil.rmtree(p.manifest(s), ignore_errors=True)
    if deleted is not None:
        index.clear_deletes(gens)
        tf_rows.unpersist()
    return new_id


def select_tiered_merge(
    index: Index,
    max_per_tier: int = 4,
    tier_factor: float = 10.0,
) -> list[int] | None:
    """Lucene-TieredMergePolicy-shaped merge selection: segments are
    binned into size tiers by floor(log_{tier_factor}(n_docs)); when a
    tier accumulates >= max_per_tier segments, the max_per_tier
    SMALLEST of that tier (doc-count asc, seg-id asc — deterministic)
    are selected for one merge. Lowest tier wins first, so write
    amplification stays O(log N) per doc over the index's lifetime —
    the reason Lucene merges tier-by-tier instead of always-everything.
    Reads only the segment commit markers, each once (no data scan).
    Returns the seg-id list or None when no tier is over-full."""
    return _select_tiered(
        index.paths.committed_markers(), max_per_tier, tier_factor
    )


def _select_tiered(
    markers: dict[int, dict], max_per_tier: int, tier_factor: float
) -> list[int] | None:
    """select_tiered_merge over the commit `markers` of one listing."""
    import math

    tiers: dict[int, list[tuple[int, int]]] = {}
    for s, m in markers.items():
        n = int(m.get("n_docs", 0))
        t = int(math.floor(math.log(max(n, 1)) / math.log(tier_factor)))
        tiers.setdefault(t, []).append((s, n))
    for t in sorted(tiers):
        if len(tiers[t]) >= max_per_tier:
            chosen = sorted(tiers[t], key=lambda sn: (sn[1], sn[0]))
            return sorted(s for s, _ in chosen[:max_per_tier])
    return None


def maybe_merge(
    index: Index,
    max_per_tier: int = 4,
    tier_factor: float = 10.0,
) -> int | None:
    """Run one tiered-policy merge round if a tier is over-full:
    compacts the selected segments into one new segment and returns its
    id (None = nothing to do). Tombstones are purged only when the
    selection happens to cover every committed segment (the
    compact_segments safety rule); partial merges keep them masked.
    The selection and that full-coverage check read one listing of the
    commit markers."""
    markers = index.paths.committed_markers()
    sel = _select_tiered(markers, max_per_tier, tier_factor)
    if sel is None:
        return None
    full = set(sel) == set(markers)
    gens = (_read_json(index.paths.deletes_marker) or {}).get("generations")
    return compact_segments(index, sel, purge_deletes=full and bool(gens))


def reshard(catalog, src: str, dst: str, range_width: int) -> "Index":
    """ES _split / _shrink: rewrite an index onto a DIFFERENT dbucket
    grid (`range_width` = docs per bucket ≈ shard size). Doc ids are
    grid-independent, so queries over the resharded index are
    rank-identical (asserted in tests) — exactly ES's resize contract.

    Spark-first shape: stream-decode the compressed postings to tf
    rows (mapInPandas, never through the driver), ONE salted
    repartitionByRange onto the NEW (term, dbucket) grid re-encodes,
    the docs table copies unchanged, and the dictionary re-derives from
    the encoded blocks. Commit protocol is the engine's usual: payloads
    first, the _seg.json marker last, so a crashed reshard leaves an
    invisible target.

    Tombstones must be purged first (compact_segments): a reshard is a
    full rewrite, so carrying live-docs masks through it would bake
    stale stats silently.
    """
    from mario_spark.postings import dictionary_from_postings, encode_tf_rows

    s = catalog.open(src)
    p = s.paths
    committed = p.committed_segments()
    if not committed:
        raise ValueError(f"index '{src}' has no committed segments")
    if s.deleted_ids() is not None:
        raise ValueError(
            "index has tombstones; run compact_segments (purge) before "
            "resharding"
        )
    meta = dict(_read_json(p.meta) or {})
    mans = [_read_json(p.seg_meta(g)) or {} for g in committed]
    doc_hi = max(m["doc_hi"] for m in mans)
    sp = catalog.spark

    tf_rows = decode_to_tf_rows(s.postings())
    enc = encode_tf_rows(tf_rows, range_width)

    import math

    d = catalog.create(dst)
    seg_docs = int(math.ceil(doc_hi / range_width) * range_width)
    meta.update(
        {
            "name": dst,
            "range_width": range_width,
            "segment_docs": max(seg_docs, range_width),
            "resharded_from": src,
        }
    )
    _atomic_write_json(d.paths.meta, meta)
    seg_dir = d.paths.seg(0)
    os.makedirs(seg_dir, exist_ok=True)
    enc.write.mode("overwrite").parquet(os.path.join(seg_dir, "postings"))
    written = read_table(sp, os.path.join(seg_dir, "postings"))
    dictionary_from_postings(written).write.mode("overwrite").parquet(
        os.path.join(seg_dir, "dictionary")
    )
    s.docs().write.mode("overwrite").parquet(os.path.join(seg_dir, "docs"))
    os.makedirs(os.path.join(d.paths.base, "manifest"), exist_ok=True)
    (
        written.groupBy("dbucket")
        .agg(
            F.sum("n").cast("long").alias("postings"),
            F.count("*").cast("long").alias("blocks"),
            (
                F.sum(F.octet_length("doc_ids"))
                + F.sum(F.octet_length("tfs"))
                + F.sum(F.octet_length("lens"))
            )
            .cast("long")
            .alias("payload_bytes"),
        )
        .withColumn("segment", F.lit(0))
        .withColumn(
            "doc_lo", F.lit(min(m["doc_lo"] for m in mans)).cast("long")
        )
        .withColumn("doc_hi", F.lit(doc_hi).cast("long"))
        .write.mode("overwrite")
        .parquet(d.paths.manifest(0))
    )
    marker = {
        "status": "committed",
        "n_docs": sum(m["n_docs"] for m in mans),
        "sum_len": sum(m["sum_len"] for m in mans),
        "doc_lo": min(m["doc_lo"] for m in mans),
        "doc_hi": doc_hi,
        "resharded_from": src,
    }
    fs_all: dict[str, dict] = {}
    for m in mans:
        for f, st in (m.get("field_stats") or {}).items():
            a = fs_all.setdefault(f, {"n_docs": 0, "sum_len": 0})
            a["n_docs"] += st["n_docs"]
            a["sum_len"] += st["sum_len"]
    if fs_all:
        marker["field_stats"] = fs_all
    _atomic_write_json(d.paths.seg_meta(0), marker)
    return d
