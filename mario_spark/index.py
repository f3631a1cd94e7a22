"""Persistent segmented index: build, resume, manifest, query.

Storage layout (one directory per index under a catalog root; the
API is Iceberg-shaped — every commit is a single atomic rename — so the
same interface maps onto an Iceberg catalog on a real deployment, per
SURVEY §7 step 9):

    <root>/aliases.json                    atomic alias registry
    <root>/<index>/_meta.json              range_width, k1, b, source, parts
    <root>/<index>/segments/<seg>/
        _seg.json                          commit marker + segment stats
        docs/       parquet (doc_id, url, lang, len)
        postings/   parquet (codec blocks, term-sorted files)
        dictionary/ parquet (term, df)
    <root>/<index>/manifest/<seg>.parquet  per-(segment, dbucket) lineage
                                           + docs/postings/bytes metrics

The k1 and b in _meta.json only record the similarity. Scoring reads
query.K1 / query.B: the similarity is fixed, as an OpenSearch mapping
fixes it, and no query can change it.

Reference parity: index naming `<source>-<utc-ts>`
(/root/reference/pkg/ingester/ingester.go:62-63); segments mirror
Lucene's per-commit segments, which mario gets implicitly from ES bulk
appends (/root/reference/pkg/client/elastic.go:102-108).

Scale + resume design:
- Docs are densely id'd once (deterministic for a dataset + pinned
  partition count, recorded in _meta.json), then built in SEGMENTS =
  contiguous doc-id ranges aligned to the dbucket grid. Each segment is
  one bounded Spark job; its commit is the atomic rename of _seg.json.
  A re-run recomputes nothing for committed segments (the kill-and-
  resume test asserts the rebuilt index is byte-identical).
- Segments are doc-disjoint, so collection stats and the dictionary
  are ADDITIVE: open-time stats = sum over segment stats; no global
  recompute on append/merge. Blocks store stats-free impacts
  (postings.py), so appended segments never invalidate old ones.
- Per-partition metrics (docs, postings blocks, payload bytes per
  dbucket) are derived from the encoded blocks themselves and written
  with the segment — the lineage/metrics requirement of the north star.
"""

from __future__ import annotations

import fnmatch
import json
import math
import os
import re
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mario_spark import docs as docsmod
from mario_spark.localread import open_parts, part_files
from mario_spark.postings import build_postings, pick_range_width
from mario_spark.query import B, K1, empty_result
from mario_spark.wand import Snapshot, TermStats, _by_query

DOCS_COLS = ["doc_id", "url", "lang", "len"]
# the footer key under which Spark stores a table's own schema (JSON)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the footer of the first part file of
    the parquet table directory `path`, or None when `path` is not a
    local directory, holds no part file, or carries no Spark schema."""
    parts = part_files(path)
    if not parts:
        return None
    meta = pq.read_schema(parts[0]).metadata or {}
    raw = meta.get(SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_table(spark: SparkSession, *paths: str) -> DataFrame:
    """Read Spark-written parquet tables (segment postings/docs/
    dictionary, manifests, tombstone generations) with no Spark job.
    `spark.read.parquet` runs a job per read to infer the schema from a
    part file's footer; this reads the schema Spark stored there on the
    driver instead. Spark's inference reads the same key, so the schema
    is identical. A table without the key (written by another tool)
    takes the inferring read."""
    schema = _footer_schema(paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


class Committer:
    """Pluggable atomic-commit backend for catalog metadata.

    Every piece of index metadata (segment markers, index meta, alias
    registry) becomes visible through exactly ONE commit_json call —
    that is the engine's only atomicity primitive, so swapping this
    class is all it takes to move the catalog off a POSIX filesystem:

    - FileCommitter (default): tmp-file + os.replace — atomic on POSIX,
      correct for local disks and NFS.
    - An object-store backend would implement commit_json with a
      conditional put (S3 If-None-Match / GCS x-goog-if-generation-match)
      or as an Iceberg catalog commit (the layout is already
      Iceberg-shaped: immutable data files + tiny metadata pointers).
      Readers never need the analogous swap because data files are
      immutable once their marker commits.
    """

    def commit_json(self, path: str, obj: dict) -> None:
        raise NotImplementedError

    def read_json(self, path: str) -> dict | None:
        raise NotImplementedError

    def update_json(self, path: str, fn) -> dict:
        """Atomic read-modify-write of a shared registry document
        (aliases, templates, tombstone markers): obj = fn(current).
        The default is last-writer-wins (correct for a single driver);
        CAS backends override with a conflict-retry loop so CONCURRENT
        drivers can mutate the same registry safely."""
        obj = fn(self.read_json(path))
        self.commit_json(path, obj)
        return obj


class FileCommitter(Committer):
    def commit_json(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def read_json(self, path: str) -> dict | None:
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)


class CasCommitter(Committer):
    """Object-store-shaped backend: every commit is a conditional put
    keyed on a per-document GENERATION (S3 If-None-Match on a
    generation key / GCS x-goog-if-generation-match / an Iceberg
    catalog swap). The sandbox has no object store, so the conditional
    primitive is modeled with the POSIX equivalent of create-if-absent:
    os.link to `<path>.g<N>` fails with EEXIST iff another writer
    already committed generation N — exactly a conditional put's
    failure mode. What this class proves is the ENGINE-side contract:
    all registry mutations flow through update_json's
    read(gen) -> mutate -> put-if(gen+1) loop, retrying on conflict,
    so a real S3/GCS/Iceberg backend only replaces the two private
    _put_if/_latest methods.
    """

    MAX_RETRIES = 32

    def __init__(self) -> None:
        import itertools

        self._seq = itertools.count()

    def _latest(self, path: str) -> tuple[int, dict | None]:
        d, base = os.path.split(path)
        best, body = 0, None
        if os.path.isdir(d or "."):
            for f in os.listdir(d or "."):
                if f.startswith(base + ".g"):
                    try:
                        g = int(f[len(base) + 2:])
                    except ValueError:
                        continue
                    if g > best:
                        best = g
        if best:
            with open(f"{path}.g{best}") as fh:
                body = json.load(fh)
        return best, body

    def _put_if(self, path: str, gen: int, obj: dict) -> bool:
        """Conditional put of generation `gen`: True iff we won."""
        import threading

        # unique per (process, thread, attempt): concurrent writers of
        # the same generation must not share a staging file
        tmp = (
            f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
            f".{next(self._seq)}"
        )
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        try:
            os.link(tmp, f"{path}.g{gen}")  # create-if-absent, atomic
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def commit_json(self, path: str, obj: dict) -> None:
        # blind overwrite (single-writer documents: segment markers,
        # index meta) — still generation-sequenced so readers are
        # never torn
        for _ in range(self.MAX_RETRIES):
            gen, _body = self._latest(path)
            if self._put_if(path, gen + 1, obj):
                return
        raise RuntimeError(f"commit contention on {path}")

    def read_json(self, path: str) -> dict | None:
        return self._latest(path)[1]

    def update_json(self, path: str, fn) -> dict:
        for _ in range(self.MAX_RETRIES):
            gen, body = self._latest(path)
            obj = fn(body)
            if self._put_if(path, gen + 1, obj):
                return obj
        raise RuntimeError(f"update contention on {path}")


class ObjectStoreCommitter(CasCommitter):
    """CasCommitter over an S3-compatible conditional-put client
    (objectstore.FakeS3Store in-sandbox; boto3 against real S3 is a
    constructor swap — the client surface is put_object/get_object/
    list_keys with ``If-None-Match: *`` put semantics, real S3 API
    since 2024-08).

    Inherits the whole read(gen) -> mutate -> put-if(gen+1) retry loop
    from CasCommitter; only the two storage primitives differ —
    `_latest` lists ``<path>.g<N>`` keys and reads the highest,
    `_put_if` is one conditional put whose 412 is the lost race.

    Atomicity-contract parity with the reference: mario promotes an
    index through a single aliases POST that removes and adds in one
    action list (reference pkg/client/elastic.go:113-125 — "actions
    happen atomically"), so readers see the old or the new index,
    never neither. Here the same all-or-nothing visibility is one
    conditional put of the next registry generation: concurrent
    promoters serialize on the 412, and a reader always loads a fully
    committed generation.
    """

    def __init__(self, client) -> None:
        super().__init__()
        self.client = client

    def _latest(self, path: str) -> tuple[int, dict | None]:
        best, body = 0, None
        pfx = path + ".g"
        for key in self.client.list_keys(pfx):
            try:
                g = int(key[len(pfx):])
            except ValueError:
                continue
            if g > best:
                best = g
        if best:
            body = json.loads(self.client.get_object(f"{path}.g{best}"))
        return best, body

    def _put_if(self, path: str, gen: int, obj: dict) -> bool:
        from mario_spark.objectstore import PreconditionFailed

        body = json.dumps(obj, indent=1, sort_keys=True).encode()
        try:
            self.client.put_object(
                f"{path}.g{gen}", body, if_none_match="*"
            )
            return True
        except PreconditionFailed:
            return False


_COMMITTER = FileCommitter()


def set_committer(committer: Committer) -> Committer:
    """Swap the catalog's commit backend (returns the previous one).
    This is the single switch that moves all metadata atomicity from
    POSIX rename to an object-store conditional put."""
    global _COMMITTER
    prev = _COMMITTER
    _COMMITTER = committer
    return prev


def _field_sources(fields_cfg: dict) -> dict[str, str]:
    """fields spec -> {field: source column}. A spec value is either a
    bare column name or {"source": col, "analyzer": "shingle"} (the ES
    index_phrases-style sub-field declaration) — both JSON-stable in
    _meta.json."""
    return {
        n: (v["source"] if isinstance(v, dict) else v)
        for n, v in fields_cfg.items()
    }


def _field_analyzers(fields_cfg: dict) -> dict[str, str]:
    """fields spec -> {field: analyzer} for non-standard analyzers."""
    return {
        n: v["analyzer"]
        for n, v in fields_cfg.items()
        if isinstance(v, dict) and v.get("analyzer", "standard") != "standard"
    }


def _jsonable(v):
    """Commit-marker-safe encoding of a sort-bound value. Timestamps go
    to ISO-8601 text (lexicographic order == chronological for the fixed
    format, so marker bounds stay mutually comparable); numerics and
    strings pass through."""
    import datetime

    if isinstance(v, datetime.datetime):
        # fixed microsecond width: equal instants encode to equal text,
        # so boundary (==) segments are never skipped on a format quirk
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _atomic_write_json(path: str, obj: dict) -> None:
    """Single-commit JSON write via the module committer."""
    _COMMITTER.commit_json(path, obj)


def _update_json(path: str, fn) -> dict:
    """Atomic read-modify-write via the module committer (CAS-retried
    on backends that support generations)."""
    return _COMMITTER.update_json(path, fn)


def _read_json(path: str) -> dict | None:
    return _COMMITTER.read_json(path)


def _sum_stats(stats) -> tuple[int, float]:
    """(n_docs, avgdl) summed from segment (or per-field) stats dicts
    {n_docs, sum_len}: additive, because segments are doc-disjoint."""
    n = s = 0
    for st in stats:
        n += st.get("n_docs", 0)
        s += st.get("sum_len", 0)
    return n, (s / n) if n else 0.0


def _field_stats(markers) -> dict[str, tuple[int, float]]:
    """{field: (n_docs, avgdl)} summed from the commit markers' per-field
    stats (a field no segment holds a doc for has none)."""
    per: dict[str, list[dict]] = {}
    for m in markers:
        for f, st in (m.get("field_stats") or {}).items():
            per.setdefault(f, []).append(st)
    return {f: _sum_stats(sts) for f, sts in per.items()}


def _write_manifest(
    post: DataFrame, path: str, seg_id: int, lo: int, hi: int
) -> None:
    """Per-partition (dbucket) metrics + lineage — the checkpoint
    manifest the north rule requires (docs/bytes/postings recorded per
    partition, resumable from the segment boundary)."""
    (
        post.groupBy("dbucket")
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
        .withColumn("segment", F.lit(seg_id))
        .withColumn("doc_lo", F.lit(lo).cast("long"))
        .withColumn("doc_hi", F.lit(hi).cast("long"))
        .write.mode("overwrite")
        .parquet(path)
    )


@dataclass
class IndexPaths:
    root: str
    name: str

    @property
    def base(self) -> str:
        return os.path.join(self.root, self.name)

    @property
    def meta(self) -> str:
        return os.path.join(self.base, "_meta.json")

    def seg(self, seg_id: int) -> str:
        return os.path.join(self.base, "segments", f"{seg_id:05d}")

    def seg_meta(self, seg_id: int) -> str:
        return os.path.join(self.seg(seg_id), "_seg.json")

    def manifest(self, seg_id: int) -> str:
        return os.path.join(self.base, "manifest", f"{seg_id:05d}.parquet")

    @property
    def deletes_marker(self) -> str:
        return os.path.join(self.base, "_deletes.json")

    def delete_gen(self, gen: int) -> str:
        return os.path.join(self.base, "deletes", f"{gen:05d}.parquet")

    def committed_markers(self) -> dict[int, dict]:
        """{segment id: commit marker} of the committed segments, in id
        order, each marker read once: the one listing of the segment
        directory (committed_segments wraps it)."""
        segdir = os.path.join(self.base, "segments")
        if not os.path.isdir(segdir):
            return {}
        out = {}
        for d in sorted(os.listdir(segdir)):
            m = _read_json(os.path.join(segdir, d, "_seg.json"))
            if m and m.get("status") == "committed":
                out[int(d)] = m
        return out

    def committed_segments(self) -> list[int]:
        return list(self.committed_markers())


class Index:
    """Handle to one on-disk index."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.paths = IndexPaths(root, name)

    # ------------------------------------------------------------- build
    def ingest(
        self,
        pages: DataFrame,
        segment_docs: int | None = None,
        range_width: int | None = None,
        extract_html: bool = False,
        source: str = "",
        fail_after_segment: int | None = None,
        positions: bool = False,
        fields: dict[str, str] | None = None,
        sort_docs_by: str | None = None,
        sort_docs_desc: bool = True,
        vector_col: str | None = None,
    ) -> dict:
        """Build (or resume building) the index from a pages DataFrame.

        positions=True indexes token positions too (Lucene
        indexed-with-positions): postings gain the `poss` stream and the
        index answers match_phrase via search_phrase(); BM25/WAND
        queries are unaffected. The choice is pinned in _meta.json so
        appends and compactions keep the same format.

        fields maps field name -> source COLUMN name; when given, each
        field is analyzed independently and postings are keyed
        `<field>:<term>` (fields.py), so queries target one field with
        its own df/n_docs/avgdl (per-segment field stats live in the
        commit markers and stay additive). Query via search_field().

        sort_docs_by pins ES index-time sorting (index.sort.field /
        index.sort.order): each segment's docs parquet is written
        SORTED by that column and its (min, max) recorded in the commit
        marker, so a sorted top-k (search_sorted) early-terminates —
        whole segments outside the threshold are skipped from the
        marker bounds, and within scanned segments the threshold
        predicate prunes parquet row groups because the file is sorted
        (Lucene's sorted-segment early termination, re-expressed as
        file/row-group skipping). Pinned in _meta.json like positions,
        so appends keep the invariant.

        vector_col pins an ES dense_vector field: the named
        array<float> column is stored in each segment's docs parquet,
        so the ONE index serves BM25, kNN (Index.knn) and hybrid RRF
        (Index.search_hybrid) — the ES dense_vector-in-the-same-index
        model. Pinned in _meta.json like positions/fields.

        `fail_after_segment` exists for the resume test: raises after
        committing that many segments, simulating a mid-build crash.
        Returns the final stats dict.
        """
        sp = self.spark
        meta = _read_json(self.paths.meta)
        if meta is None:
            # index-template defaults (stamped by Catalog.create when a
            # template pattern matched): explicit args win, except
            # positions/fields where a truthy template raises the
            # format — ES composable-template precedence
            tdef = _read_json(
                os.path.join(self.paths.base, "_template.json")
            ) or {}
            if segment_docs is None:
                segment_docs = tdef.get("segment_docs")
            if range_width is None:
                range_width = tdef.get("range_width")
            if not positions:
                positions = bool(tdef.get("positions", False))
            if fields is None:
                fields = tdef.get("fields")
            parts = sp.sparkContext.defaultParallelism
            os.makedirs(self.paths.base, exist_ok=True)
            # count first: range_width and segmentation must be pinned
            # before any segment commits, else a resume could re-plan
            text_cols = (
                tuple(dict.fromkeys(_field_sources(fields).values()))
                if fields
                else ("text",)
            )
            sort_cols = (sort_docs_by,) if sort_docs_by else ()
            vec_cols = (vector_col,) if vector_col else ()
            # dict.fromkeys: sort_docs_by / vector_col may name an
            # always-kept column; a duplicate here makes later
            # per-segment selects ambiguous
            slim_cols = [
                c
                for c in dict.fromkeys(
                    (
                        "doc_id", "url", "lang", *text_cols, *sort_cols,
                        *vec_cols, "html",
                    )
                )
                if c in pages.columns
            ]
            for need, what in ((sort_docs_by, "sort_docs_by"),
                               (vector_col, "vector_col")):
                if need and need not in pages.columns:
                    raise ValueError(f"{what} column '{need}' not in pages")
            n_docs = pages.count()
            rw = range_width or pick_range_width(n_docs, parts)
            seg_docs = segment_docs or max(rw, int(math.ceil(n_docs / 4 / rw)) * rw)
            seg_docs = int(math.ceil(seg_docs / rw) * rw)  # align to grid
            meta = {
                "name": self.paths.name,
                "source": source,
                "n_docs": n_docs,
                "range_width": rw,
                "segment_docs": seg_docs,
                "id_partitions": parts,
                "k1": K1,
                "b": B,
                "created": time.strftime("%Y-%m-%dt%H-%M-%Sz", time.gmtime()),
                "slim_cols": slim_cols,
                "positions": positions,
                "fields": fields,
                "sort_docs": (
                    {"field": sort_docs_by, "desc": bool(sort_docs_desc)}
                    if sort_docs_by
                    else None
                ),
                "vector_col": vector_col,
            }
            _atomic_write_json(self.paths.meta, meta)
        rw = meta["range_width"]
        n_docs = meta["n_docs"]
        seg_docs = meta["segment_docs"]
        n_segments = max(1, int(math.ceil(n_docs / seg_docs)))

        done = set(self.paths.committed_segments())
        todo = [s for s in range(n_segments) if s not in done]
        if todo:
            # deterministic dense ids over the WHOLE input (pinned partition
            # count), then per-segment bounded jobs
            if extract_html:
                pages = pages.withColumn(
                    "text", docsmod.extract_udf("html")
                )
            keep = [
                c
                for c in meta.get("slim_cols", ["doc_id", "url", "lang", "text"])
                if c != "html" and c in pages.columns
            ]
            # extraction adds `text` after slim_cols was pinned
            if (
                not meta.get("fields")
                and "text" in pages.columns
                and "text" not in keep
            ):
                keep.append("text")
            slim = pages.select(*keep)
            if "doc_id" not in slim.columns:
                slim = docsmod.assign_doc_ids(
                    slim, num_partitions=meta["id_partitions"]
                )
            slim = slim.persist()
            built = 0
            for s in todo:
                lo, hi = s * seg_docs, min((s + 1) * seg_docs, n_docs)
                self._build_segment(slim, s, lo, hi, rw)
                built += 1
                if fail_after_segment is not None and built >= fail_after_segment:
                    slim.unpersist()
                    raise RuntimeError(
                        f"simulated failure after {built} segments"
                    )
            slim.unpersist()
        return self.stats()

    def _build_segment(self, slim: DataFrame, seg_id: int, lo: int, hi: int, rw: int) -> None:
        sp = self.spark
        p = self.paths
        meta = _read_json(p.meta) or {}
        seg_dir = p.seg(seg_id)
        os.makedirs(seg_dir, exist_ok=True)
        sl = slim.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        fields_cfg = meta.get("fields")
        field_stats: dict[str, dict] | None = None
        if fields_cfg:
            from mario_spark import fields as fieldsmod
            from mario_spark.postings import dictionary_from_postings, encode_tf_rows

            d = fieldsmod.build_field_doc_table(
                sl,
                {
                    n: F.col(src)
                    for n, src in _field_sources(fields_cfg).items()
                },
                positions=bool(meta.get("positions")),
                analyzers=_field_analyzers(fields_cfg),
            ).persist()
            frows = (
                d.filter(F.col("len") > 0)
                .groupBy("field")
                .agg(F.count("*").alias("n"), F.sum("len").alias("s"))
                .collect()
            )
            field_stats = {
                r["field"]: {"n_docs": int(r["n"]), "sum_len": int(r["s"])}
                for r in frows
            }
            seg_n = sl.count()
            seg_len = sum(v["sum_len"] for v in field_stats.values())
            post = encode_tf_rows(fieldsmod.field_tf(d), rw).persist()
            dic = dictionary_from_postings(post)
            docs_out = sl.select(
                *[c for c in ("doc_id", "url", "lang") if c in sl.columns]
            )
        else:
            d = docsmod.build_doc_table(
                sl, positions=bool(meta.get("positions"))
            ).persist()
            seg_rows = d.agg(
                F.count("*").alias("n"), F.coalesce(F.sum("len"), F.lit(0)).alias("s")
            ).collect()[0]
            seg_n, seg_len = int(seg_rows["n"]), int(seg_rows["s"])
            post, dic, _ = build_postings(d, max(seg_n, 1), range_width=rw)
            post = post.persist()
            docs_out = d.select(*[c for c in DOCS_COLS if c in d.columns])
        vc = meta.get("vector_col")
        if vc and vc not in docs_out.columns and vc in sl.columns:
            # the doc table drops non-standard columns; re-attach the
            # dense_vector from the cached slim slice (segment-bounded)
            docs_out = docs_out.join(sl.select("doc_id", vc), "doc_id")
        sort_bounds = None
        sd = meta.get("sort_docs")
        if sd:
            key = sd["field"]
            if key not in docs_out.columns:
                # the doc table drops non-standard columns; re-attach the
                # sort key from the cached slim slice (segment-bounded join)
                docs_out = docs_out.join(sl.select("doc_id", key), "doc_id")
            kc = F.col(key)
            docs_out = docs_out.orderBy(kc.desc() if sd["desc"] else kc.asc())
            r = docs_out.agg(
                F.min(key).alias("mn"), F.max(key).alias("mx")
            ).collect()[0]
            sort_bounds = {
                "min": _jsonable(r["mn"]),
                "max": _jsonable(r["mx"]),
            }
        # Overlap the four segment outputs. postings is the only write
        # that COMPUTES anything (it materializes the post cache); the
        # docs write needs only the already-cached doc table, and the
        # dictionary + manifest writes are small aggregations over the
        # post cache. Running them sequentially serializes four job
        # scheduling floors on an otherwise idle fleet; overlapping them
        # is safe because the commit marker below is the only
        # visibility point. dic/manifest wait for the post cache to be
        # materialized so concurrent jobs never race to compute the
        # same uncached partitions twice.
        from concurrent.futures import ThreadPoolExecutor

        os.makedirs(os.path.join(p.base, "manifest"), exist_ok=True)

        def _write_postings() -> None:
            post.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "postings")
            )

        def _write_docs() -> None:
            docs_out.write.mode("overwrite").parquet(
                os.path.join(seg_dir, "docs")
            )

        def _write_dictionary() -> None:
            # sorted by term within each file: row-group statistics
            # then prune the driver's dictionary lookups
            dic.sortWithinPartitions("term").write.mode("overwrite").parquet(
                os.path.join(seg_dir, "dictionary")
            )

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_post = pool.submit(_write_postings)
            f_docs = pool.submit(_write_docs)
            f_post.result()  # post cache is now materialized
            f_dic = pool.submit(_write_dictionary)
            _write_manifest(post, p.manifest(seg_id), seg_id, lo, hi)
            f_dic.result()
            f_docs.result()
        post.unpersist()
        d.unpersist()
        # the commit point: everything above is invisible until this rename
        marker = {
            "status": "committed",
            "n_docs": seg_n,
            "sum_len": seg_len,
            "doc_lo": lo,
            "doc_hi": hi,
            "built": time.strftime("%Y-%m-%dt%H-%M-%Sz", time.gmtime()),
        }
        if field_stats is not None:
            marker["field_stats"] = field_stats
        if sort_bounds is not None:
            marker["sort_bounds"] = sort_bounds
        _atomic_write_json(p.seg_meta(seg_id), marker)

    def append(self, pages: DataFrame, source: str = "") -> dict:
        """Incremental ingest into an EXISTING index (mario's default
        ingest path: without --new it appends to the current index,
        ingester.go:65-73). New docs get dense ids starting at the next
        dbucket-grid boundary above the current max doc id, so new
        segments stay doc-disjoint and grid-aligned with the old ones —
        which is what makes the append metadata-only for everything
        already written (stats-free blocks, additive dictionary).
        """
        meta = _read_json(self.paths.meta)
        if meta is None:
            return self.ingest(pages, source=source)
        rw = meta["range_width"]
        committed = self.paths.committed_markers()
        doc_hi = max(
            (m.get("doc_hi", 0) for m in committed.values()), default=0
        )
        base = int(math.ceil(doc_hi / rw) * rw)

        keep = [
            c
            for c in meta.get("slim_cols", ["doc_id", "url", "lang", "text"])
            if c != "html" and c in pages.columns
        ]
        slim = pages.select(*keep)
        if "doc_id" not in slim.columns:
            slim = docsmod.assign_doc_ids(
                slim, num_partitions=meta["id_partitions"]
            )
        slim = slim.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
        ).persist()
        n_new = slim.count()
        seg_docs = meta["segment_docs"]
        next_seg = (max(committed) + 1) if committed else 0
        n_segments = max(1, int(math.ceil(n_new / seg_docs)))
        for i in range(n_segments):
            lo = base + i * seg_docs
            hi = min(base + (i + 1) * seg_docs, base + n_new)
            self._build_segment(slim, next_seg + i, lo, hi, rw)
        slim.unpersist()
        return self.stats()

    def upsert(self, pages: DataFrame, source: str = "") -> dict:
        """ES bulk-index semantics for existing _ids: a doc whose url
        is already in the index is REPLACED by the incoming version
        (the reference relies on this — bulk _id = TimdexRecordId,
        /root/reference/pkg/client/elastic.go:103-107, so re-ingesting
        a file overwrites rather than duplicates).

        Spark-first shape: the batch's urls semi-join the docs table to
        find the superseded doc_ids (url-keyed join; the batch side is
        usually tiny next to the index, so AQE broadcasts it), the
        batch appends as new segments, and then the old ids are
        tombstoned with the SAME live-docs commit protocol as
        delete_by_query. Ordering is append-first: a crash between the
        two commits leaves both versions visible (recoverable — re-run
        the upsert and it converges) rather than neither (data loss).
        Urls are assumed unique within the batch (the same contract as
        doc-id assignment). A later purging compaction physically drops
        the replaced versions."""
        if not self.paths.committed_segments():
            return self.ingest(pages, source=source)
        batch_urls = pages.select("url").distinct()
        # resolved against the PRE-append segment list (docs() pins its
        # parquet paths now), so the just-appended copies never match
        old = self.docs().join(batch_urls, "url", "leftsemi").select(
            "doc_id"
        )
        prev = self.deleted_ids()
        if prev is not None:
            old = old.join(prev, "doc_id", "left_anti")
        self.append(pages, source=source)
        n_old, _ = self._commit_tombstones(old)
        st = self.stats()
        st["replaced"] = n_old
        return st

    # ------------------------------------------------------------- reads
    def _seg_paths(
        self, sub: str, segments: list[int] | None = None
    ) -> list[str]:
        segs = (
            self.paths.committed_segments() if segments is None else segments
        )
        if not segs:
            raise self._no_segments()
        return [os.path.join(self.paths.seg(s), sub) for s in segs]

    def _no_segments(self) -> ValueError:
        return ValueError(
            f"index '{self.paths.name}' has no committed segments "
            "(never ingested, or crashed before the first commit)"
        )

    def postings(self, segments: list[int] | None = None) -> DataFrame:
        return read_table(self.spark, *self._seg_paths("postings", segments))

    def docs(self, segments: list[int] | None = None) -> DataFrame:
        return read_table(self.spark, *self._seg_paths("docs", segments))

    def dictionary(self, segments: list[int] | None = None) -> DataFrame:
        """Union of segment dictionaries; df is additive (doc-disjoint)."""
        paths = self._seg_paths("dictionary", segments)
        return TermStats(lambda: read_table(self.spark, *paths)).dictionary

    def manifest(self) -> DataFrame:
        segs = self.paths.committed_segments()
        if not segs:
            raise ValueError(
                f"index '{self.paths.name}' has no committed segments"
            )
        return read_table(
            self.spark, *[self.paths.manifest(s) for s in segs]
        )

    def stats(self) -> dict:
        """Collection stats by summing segment commit markers (no scan)."""
        markers = self.paths.committed_markers()
        n, avgdl = _sum_stats(markers.values())
        dels = _read_json(self.paths.deletes_marker) or {}
        return {
            "n_docs": n,
            "avgdl": avgdl,
            "segments": len(markers),
            "n_deleted": int(dels.get("n_deleted", 0)),
        }

    def open_session(self, **kwargs) -> "QuerySession":
        """Open a warm-serving QuerySession over the Snapshot open_pit
        pins now: its term statistics are opened once (TermStats.open:
        the segment dictionaries summed into a driver dict when they
        fit) and its tombstones read, both on the driver from the
        pinned part files, so opening runs no Spark job. The session
        keeps the pin's postings part files open: its coordinator route
        reads a small batch's pruned postings from them with pyarrow,
        no job, as a cold call does. Its postings are also
        repartitioned on dbucket and cached for the distributed route.

        The snapshot is pinned at open. Appends, deletes and merges —
        even merges that DELETE the session's source segment files —
        do not change (or break) what a warmed session serves: its part
        files stay open (readable after their removal on POSIX), its
        postings cache stays, its df is held (or cached in shards) and
        its tombstones were read at open. Seeing new data is an explicit
        refresh: open a new session (ES semantics — a PIT/scroll keeps
        serving its snapshot while the index moves on). Call .warm()
        before relying on that for the distributed route: warming
        materializes the cache while the source files still exist. The
        session holds one file descriptor per part file, and a
        merged-away segment's disk space comes back only when it
        closes; `with idx.open_session() as s:` releases the
        cached frames and the part files on exit. kwargs go to
        QuerySession; a fields=... index serves search(field=...) with
        the snapshot's per-field stats."""
        from mario_spark.wand import QuerySession

        snap = self._pinned()
        return QuerySession(
            snap.postings, snap.terms, snap.n_docs, snap.avgdl, pit=snap,
            **{"field_stats": snap.field_stats, **kwargs},
        )

    # ------------------------------------------------------ dense vectors
    def knn(
        self,
        query_vectors: list[tuple[int, list[float]]],
        k: int = 10,
        where=None,
    ) -> DataFrame:
        """ES kNN search over the index's dense_vector column
        ([(query_id, raw query vector)] — the vectors travel in the
        search body, exactly like ES's knn.query_vector):
        -> (query_id, rank, doc_id, cos). Exact cosine (the brute
        baseline; num_candidates tuning belongs to the ANN variants in
        ops/ann.py), tombstones masked, `where` = ES kNN filter
        (pre-filtering: the predicate prunes the scan BEFORE any
        distance math)."""
        with self.open_pit() as snap:
            return self._knn(snap, query_vectors, k, where)

    def _knn(
        self,
        snap: Snapshot,
        query_vectors: list[tuple[int, list[float]]],
        k: int,
        where=None,
    ) -> DataFrame:
        """knn over the docs and tombstones `snap` pinned."""
        from mario_spark.ops.ann import brute_topk_vectors

        meta = _read_json(self.paths.meta) or {}
        vc = meta.get("vector_col")
        if not vc:
            raise ValueError(
                f"index '{self.paths.name}' was not ingested with "
                "vector_col=...; kNN needs a dense_vector column"
            )
        d = self.docs(list(snap.segments)).filter(F.col(vc).isNotNull())
        if where is not None:
            d = d.filter(where)
        dele = snap.deleted_docs
        if dele is not None:
            d = d.join(dele, "doc_id", "left_anti")
        return brute_topk_vectors(d, "doc_id", vc, query_vectors, k=k)

    def search_hybrid(
        self,
        queries: list[tuple[int, str]],
        query_vectors: list[tuple[int, list[float]]],
        k: int = 10,
        window: int = 20,
        rrf_k: int = 60,
    ) -> DataFrame:
        """ES hybrid retriever (rrf) served from ONE index: the lexical
        arm runs block-max WAND over the postings, the dense arm exact
        cosine over the stored dense_vector column, each a
        rank-window of `window`, fused as sum 1/(rrf_k + rank)
        (Cormack et al. 2009). Both arms are already tiny per query at
        fusion time — the full-outer join and the final window touch
        <= 2*window rows per query. Both arms read ONE pinned Snapshot,
        so a commit between them cannot make them mask different
        tombstones or read different segments."""
        from mario_spark.fixtures import query_terms_df as _qtd

        with self.open_pit() as snap:
            lex = (
                self.search(
                    _qtd(self.spark, queries), k=window, pit=snap
                ).select("query_id", "doc_id", F.col("rank").alias("lrank"))
            )
            den = self._knn(snap, query_vectors, k=window).select(
                "query_id", "doc_id", F.col("rank").alias("drank")
            )
        fused = lex.join(den, ["query_id", "doc_id"], "full_outer").withColumn(
            "rrf",
            F.round(
                F.coalesce(
                    1.0 / (F.lit(float(rrf_k)) + F.col("lrank")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (F.lit(float(rrf_k)) + F.col("drank")), F.lit(0.0)
                ),
                6,
            ),
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
        return (
            fused.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "rrf")
        )

    # ------------------------------------------------ index-time sorting
    def sorted_scan_plan(self, k: int = 10, where=None) -> dict:
        """Plan a sorted top-k over a sort_docs_by index (ES index.sort
        + Lucene sorted-segment early termination). Driver-side, from
        commit-marker bounds only:

        phase 1 — scan the minimal best-first prefix of segments whose
        marker doc counts cover k, take its k-th value t (a sound bound:
        the global k-th is at least as good as any subset's k-th; if a
        `where` filter leaves fewer than k rows the prefix doubles);
        phase 2 — any unscanned segment whose best bound cannot reach t
        is skipped entirely. Docs equal to t can't hide in a skipped
        segment (skipping is strict), so tie-breaks stay exact.

        Returns {"segments", "threshold", "total_segments"} — threshold
        None means the index (after filters) holds fewer than k docs and
        everything selected must be read."""
        return self._sorted_scan(k, where)[0]

    def _sorted_scan(self, k: int, where) -> tuple:
        """(sorted_scan_plan's plan, the docs scan it ran, sort key,
        desc). The scan reads the tombstones once, so search_sorted
        masks exactly the ones the plan did."""
        meta = _read_json(self.paths.meta) or {}
        sd = meta.get("sort_docs")
        if not sd:
            raise ValueError(
                f"index '{self.paths.name}' was not ingested with "
                "sort_docs_by=...; sorted early termination needs the "
                "segment sort bounds"
            )
        key, desc = sd["field"], bool(sd["desc"])
        known, unknown = [], []
        for s, m in self.paths.committed_markers().items():
            sb = m.get("sort_bounds") or {}
            row = (s, sb.get("min"), sb.get("max"), m.get("n_docs", 0))
            # a segment without bounds (e.g. written by an older tool or
            # a reshard) is never skippable — it joins every scan
            (unknown if row[1] is None or row[2] is None else known).append(row)
        # best-first: by max desc, or by min asc
        known.sort(key=(lambda b: b[2]) if desc else (lambda b: b[1]),
                   reverse=desc)
        bounds = unknown + known
        kc = F.col(key)
        order = [kc.desc() if desc else kc.asc(), F.col("doc_id").asc()]
        dele = self.deleted_ids()

        def _scan(sel):
            d = self.docs(sel).filter(kc.isNotNull())
            if where is not None:
                d = d.filter(where)
            if dele is not None:
                d = d.join(dele, "doc_id", "left_anti")
            return d

        n_prefix, cum = 0, 0
        for _, _, _, n in bounds:
            n_prefix += 1
            cum += n
            if cum >= k:
                break
        while True:
            sel = [b[0] for b in bounds[:n_prefix]]
            rows = _scan(sel).orderBy(*order).limit(k).collect()
            if len(rows) >= k or n_prefix >= len(bounds):
                break
            n_prefix = min(len(bounds), max(n_prefix * 2, n_prefix + 1))
        if len(rows) < k:
            plan = {
                "segments": [b[0] for b in bounds],
                "threshold": None,
                "total_segments": len(bounds),
            }
            return plan, _scan, key, desc
        t = _jsonable(rows[-1][key])
        scanned = set(sel)
        sel += [
            s
            for s, mn, mx, _ in bounds
            if s not in scanned
            and (
                mn is None or mx is None  # unbounded: never skippable
                or (mx >= t if desc else mn <= t)
            )
        ]
        plan = {
            "segments": sorted(sel),
            "threshold": t,
            "total_segments": len(bounds),
        }
        return plan, _scan, key, desc

    def search_sorted(self, k: int = 10, where=None) -> DataFrame:
        """Top-k docs by the index sort field (ES sorted query with
        early termination): segments whose marker bounds cannot reach
        the phase-1 threshold are never opened, and within opened
        segments the threshold predicate pushes to the parquet scan —
        row groups beyond the threshold are skipped because each
        segment file is SORTED by the key (the Spark shape of Lucene's
        per-segment sorted collector cutoff). `where` is an optional
        extra filter Column (ES query + sort)."""
        # raises if the index is unsorted
        plan, scan, key, desc = self._sorted_scan(k, where)
        kc = F.col(key)
        d = scan(plan["segments"])
        t = plan["threshold"]
        if t is not None:
            # marker bounds are JSON-encoded (timestamps as ISO text);
            # compare in the column's own type via a cast of the literal
            lit = F.lit(t).cast(d.schema[key].dataType)
            d = d.filter(kc >= lit if desc else kc <= lit)
        return d.orderBy(
            kc.desc() if desc else kc.asc(), F.col("doc_id").asc()
        ).limit(k)

    # --------------------------------------------------- point in time
    def open_pit(self) -> Snapshot:
        """ES point-in-time (PIT): a Snapshot reader pinned to the
        CURRENT commit. Pinning reads the index meta, the segment list
        (each commit marker once) and the deletes marker exactly once;
        the postings, the segment dictionaries behind its TermStats,
        n_docs/avgdl and the per-field stats summed from the markers,
        and the tombstone generations all come from that one read. So an
        append, merge or delete that commits mid-search can never make
        the stats disagree with the postings and df a search scores.
        The postings, dictionary and tombstone part files are opened now
        too, each memory-mapped once (localread.open_parts): a search
        reads the query terms' df, the tombstones and (on the
        coordinator route) the pruned postings from them on the driver
        with pyarrow, so a small cold search runs no Spark job.

        A search passed the handle (search(pit=...)) sees exactly this
        snapshot: segment and tombstone generation files are immutable
        once committed, so pinning the open files pins the data, and
        later appends, upserts and deletes stay invisible. The snapshot
        stays valid until it is closed (close(), or `with
        idx.open_pit() as pit:`) or dropped: a merge that removes its
        segments leaves the open files readable (POSIX keeps an unlinked
        file while it is open), as Lucene keeps a merged-away file until
        its last reader closes and ES's PIT keep_alive rests on. The
        costs: one file descriptor per part file while it is held, and
        a merged-away segment's disk space comes back only when its last
        reader closes. A multi-term pattern anchored at its start
        reads its prefix windows from the open dictionary files too.
        The routes that run Spark still read by path, so they need the
        files on disk: a batch over the driver limit scans the
        postings, and a suffix window (a leading wildcard) or an
        unanchored expansion the dictionaries."""
        meta = _read_json(self.paths.meta) or {}
        markers = self.paths.committed_markers()
        gens = (_read_json(self.paths.deletes_marker) or {}).get(
            "generations", []
        )
        fields = meta.get("fields") or {}
        field_stats = {f: (0, 0.0) for f in fields}
        field_stats.update(_field_stats(markers.values()))
        segs = list(markers)

        def read(sub: str) -> DataFrame | None:
            return (
                read_table(self.spark, *self._seg_paths(sub, segs))
                if segs else None
            )

        def files(sub: str) -> list[pq.ParquetFile] | None:
            return open_parts(*self._seg_paths(sub, segs)) if segs else []

        # the postings, dictionary and tombstone frames open at first
        # use: a search reads their open part files on the driver instead
        return Snapshot(
            lambda: read("postings"),
            TermStats(lambda: read("dictionary"), files=files("dictionary")),
            *_sum_stats(markers.values()),
            field_stats=field_stats,
            deleted_docs=lambda: self._tombstones(gens),
            analyzers=_field_analyzers(fields),
            name=self.paths.name,
            segments=markers,
            deleted_files=open_parts(
                *[self.paths.delete_gen(g) for g in gens]
            ),
            postings_files=files("postings"),
        )

    def _pinned(self) -> Snapshot:
        """A Snapshot pinned now; an index with no committed segment
        raises."""
        snap = self.open_pit()
        if not snap.segments:
            snap.close()
            raise self._no_segments()
        return snap

    # ----------------------------------------------------------- deletes
    def delete_by_query(self, terms: list[str]) -> dict:
        """ES _delete_by_query with a terms query: tombstone every doc
        containing ANY of `terms` (analyzed form). Lucene live-docs
        semantics — tombstoned docs vanish from results immediately,
        while collection stats (idf/avgdl) stay stale until a
        compaction purges them (exactly what ES does between a
        delete-by-query and the next segment merge).

        Commit protocol: the new generation's doc_id parquet is written
        first (invisible), then ONE _deletes.json commit makes it live —
        same atomicity primitive as segment commits. Matching doc ids
        come from decoding only the queried terms' posting blocks (a
        term-pruned scan, never a corpus scan). On a field-scoped index
        a bare term matches ANY field (postings keys expand to every
        '<field>:<term>')."""
        from mario_spark.merge import decode_to_tf_rows

        meta = _read_json(self.paths.meta) or {}
        # on a field-scoped index a bare term matches ANY field
        # (postings keys are '<field>:<term>'); the scan filter stays a
        # pushable In() either way
        scan_terms = list(terms)
        if meta.get("fields"):
            scan_terms = [
                f"{f}:{t}" for f in meta["fields"] for t in terms
            ]
        hits = (
            decode_to_tf_rows(
                self.postings().filter(F.col("term").isin(scan_terms))
            )
            .select("doc_id")
            .distinct()
        )
        prev = self.deleted_ids()
        if prev is not None:
            hits = hits.join(prev, "doc_id", "left_anti")
        n_new, total = self._commit_tombstones(hits)
        return {"deleted": n_new, "total_deleted": total}

    def _commit_tombstones(self, doc_ids: DataFrame) -> tuple[int, int]:
        """Make `doc_ids` (disjoint from every earlier generation; the
        callers anti-join them) the next tombstone generation: its
        parquet is written first (invisible), counted, then ONE
        deletes-marker commit makes it live. -> (docs tombstoned,
        n_deleted after the commit)."""
        marker = _read_json(self.paths.deletes_marker) or {
            "generations": [],
            "n_deleted": 0,
        }
        gen = max(marker["generations"], default=-1) + 1
        doc_ids.write.mode("overwrite").parquet(self.paths.delete_gen(gen))
        n = int(read_table(self.spark, self.paths.delete_gen(gen)).count())
        marker["generations"].append(gen)
        marker["n_deleted"] = int(marker["n_deleted"]) + n
        _atomic_write_json(self.paths.deletes_marker, marker)
        return n, marker["n_deleted"]

    def deleted_ids(self) -> DataFrame | None:
        """Union of committed tombstone generations, or None."""
        marker = _read_json(self.paths.deletes_marker) or {}
        return self._tombstones(marker.get("generations", []))

    def _tombstones(self, generations: list[int]) -> DataFrame | None:
        """The doc ids of tombstone `generations`, or None. No
        `distinct`: generations are disjoint by construction, because
        delete_by_query and upsert anti-join every earlier one."""
        if not generations:
            return None
        return read_table(
            self.spark, *[self.paths.delete_gen(g) for g in generations]
        ).select("doc_id")

    def clear_deletes(self, generations: list[int]) -> None:
        """Retire the tombstone `generations` a purging compaction read
        and purged: ONE marker commit first, then the now-unreferenced
        gen files. A generation committed after the compaction read its
        list stays live, and n_deleted keeps counting its docs."""
        marker = _read_json(self.paths.deletes_marker)
        if not marker:
            return
        gens = marker.get("generations", [])
        keep = [g for g in gens if g not in generations]
        _atomic_write_json(
            self.paths.deletes_marker,
            {
                "generations": keep,
                "n_deleted": self._tombstones(keep).count() if keep else 0,
            },
        )
        for g in generations:
            shutil.rmtree(self.paths.delete_gen(g), ignore_errors=True)

    # ------------------------------------------------------------- query
    # Every search pins ONE Snapshot (open_pit) and runs its body: the
    # same Snapshot bodies a warm QuerySession serves with.
    def search(
        self,
        query_terms: DataFrame,
        k: int = 10,
        filter_terms: list[str] | None = None,
        pit: Snapshot | None = None,
    ) -> DataFrame:
        """(query_id, term) rows -> (query_id, rank, doc_id, score).
        filter_terms = ES filter context (e.g. a filtered alias): docs
        must contain at least one of the terms (analyzed form); the
        filter never scores. See wand.search_wand.

        pit = a Snapshot from open_pit(): the search runs against the
        pinned segments and tombstones, so concurrent appends, upserts
        and deletes don't shift results between pages (the ES PIT +
        search_after pagination contract)."""
        if pit is None:
            with self.open_pit() as snap:
                return self.search(query_terms, k, filter_terms, pit=snap)
        snap = pit
        if snap.field_stats:
            raise ValueError(
                f"index '{self.paths.name}' is field-scoped; "
                "use search_field(field, ...)"
            )
        # an index with zero committed segments (fresh rollover target,
        # crashed-before-first-commit) returns empty results, like an
        # empty ES index — every other search keeps the loud error
        if not snap.segments:
            return empty_result(self.spark)
        return snap.search_terms(
            sorted(_by_query(query_terms).items()), k,
            filter_terms=filter_terms,
        )

    def search_multiterm(
        self,
        queries: list[tuple[int, str]],
        kind: str = "fuzzy",
        k: int = 10,
        max_edits: int = 1,
        prefix_length: int = 1,
        field: str | None = None,
    ) -> DataFrame:
        """Multi-term queries over a persisted index: kind = 'fuzzy'
        (classic Levenshtein <= max_edits, same first prefix_length
        chars), 'prefix', 'wildcard' (whole-term * / ? patterns), or
        'regexp' (whole-term anchored, in the syntax Java and Python
        regex share; a pattern Python's re rejects raises ValueError).
        `queries` carries RAW query strings/patterns (not analyzed —
        a pattern is not a term). The body is Snapshot.search_multiterm
        over a pin: a pattern anchored at its start expands against
        prefix windows of the pinned dictionary part files, read with
        pyarrow, so a small call runs no Spark job.

        Over a fields=... index pass `field`: the pattern expands
        against THAT field's vocabulary (the '<field>:' slice of the
        dictionary, prefix stripped for matching) and scoring uses the
        field's own df/n_docs/avgdl — exactly ES's fuzzy/prefix/
        wildcard on one mapped field."""
        with self._pinned() as snap:
            return snap.search_multiterm(
                queries, kind, k, max_edits, prefix_length, field=field
            )

    def field_stats(self) -> dict[str, dict]:
        """Per-field (n_docs, avgdl) summed from segment markers —
        additive because segments are doc-disjoint."""
        return {
            f: {"n_docs": n, "avgdl": ad}
            for f, (n, ad) in _field_stats(
                self.paths.committed_markers().values()
            ).items()
        }

    def search_field(
        self,
        field: str,
        queries: list[tuple[int, str]],
        k: int = 10,
        conjunctive: bool = False,
    ) -> DataFrame:
        """Field-scoped BM25 over a fields=... index:
        [(query_id, raw text)] -> (query_id, rank, doc_id, score),
        scored with the FIELD's df/n_docs/avgdl. The query is analyzed
        with the field's analyzer (a shingle field turns "data table
        scan" into its 2-shingles)."""
        with self._pinned() as snap:
            return snap.search(queries, k, conjunctive, field=field)

    def search_phrase_fast(
        self, field: str, queries: list[tuple[int, str]], k: int = 10
    ) -> DataFrame:
        """2-term match_phrase served from a persisted shingle field
        (ES `index_phrases: true`): the phrase rewrites to ONE term of
        the shingle sub-field — no positions decoded, plain WAND over
        the pruned postings slice, scored with the shingle field's own
        stats. Phrases longer than 2 tokens need the positional path
        (Index.search_phrase), exactly like ES."""
        from mario_spark.analyze import py_tokenize

        with self._pinned() as snap:
            if snap.analyzers.get(field) != "shingle":
                raise ValueError(
                    f"field '{field}' is not a shingle field; declare it "
                    'as {"source": <col>, "analyzer": "shingle"} at ingest'
                )
            for _, q in queries:
                if len(py_tokenize(q)) != 2:
                    raise ValueError(
                        f"index_phrases serves 2-term phrases: {q!r}"
                    )
            return snap.search(queries, k, field=field)

    def mget(self, urls: list[str]) -> DataFrame:
        """ES _mget by _id (the url IS the _id, matching the reference's
        TimdexRecordId convention): stored doc fields for the requested
        urls. Live-docs semantics — tombstoned versions (deletes,
        superseded upserts) are excluded, so after an upsert exactly the
        newest version returns. The url list is a driver-side literal
        pushed into the scan as an In filter (partition/row-group
        pruning at scale); no shuffle unless tombstones exist."""
        out = self.docs().filter(F.col("url").isin(list(urls)))
        dele = self.deleted_ids()
        if dele is not None:
            out = out.join(dele, "doc_id", "left_anti")
        cols = [c for c in ("doc_id", "url", "lang", "len") if c in out.columns]
        return out.select(*cols)

    def search_query_string(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        default_field: str | None = None,
    ) -> DataFrame:
        """Full query_string mini-language over a positions=True index
        ([(query_id, raw query string)]); see
        Snapshot.search_query_string. On a fields=... index pass
        `default_field` for unprefixed atoms."""
        with self._pinned() as snap:
            return snap.search_query_string(queries, k, default_field)

    def search_phrase(
        self, phrases: list[tuple[int, str]], k: int = 10,
        field: str | None = None,
    ) -> DataFrame:
        """match_phrase over a positions=True index:
        [(query_id, raw phrase text)] -> (query_id, rank, doc_id, score).
        On a fields=... index pass `field`; see Snapshot.search_phrase."""
        with self._pinned() as snap:
            return snap.search_phrase(phrases, k, field=field)


# ---------------------------------------------------------------- catalog
class Catalog:
    """Index lifecycle ops mirroring mario's CLI surface (A10-A16):
    create / current / promote / delete / reindex / indexes / aliases /
    ping  (/root/reference/pkg/client/elastic.go:46-164,
    /root/reference/cmd/mario/main.go:34-222). The alias registry is a
    single JSON document updated by atomic rename — the Iceberg
    analogue of ES's atomic alias-actions call (ADR 0009)."""

    DEFAULT_ALIAS = "timdex-prod"  # elastic.go:20

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _aliases_path(self) -> str:
        return os.path.join(self.root, "aliases.json")

    def _read_aliases(self) -> dict[str, list[str]]:
        return _read_json(self._aliases_path) or {}

    # ------------------------------------------------------ templates
    # ES index templates: settings applied at index CREATE time to
    # names matching an index_pattern; among matches the highest
    # priority wins (the composable-template rule). Stored as one JSON
    # document with the same atomic-rename commit as the alias registry.
    _TEMPLATE_SETTINGS = {"segment_docs", "range_width", "positions", "fields"}

    @property
    def _templates_path(self) -> str:
        return os.path.join(self.root, "templates.json")

    def put_template(
        self,
        name: str,
        index_patterns: list[str],
        settings: dict,
        priority: int = 0,
    ) -> None:
        bad = set(settings) - self._TEMPLATE_SETTINGS
        if bad:
            raise ValueError(
                f"unknown template settings {sorted(bad)}; allowed: "
                f"{sorted(self._TEMPLATE_SETTINGS)}"
            )
        entry = {
            "index_patterns": list(index_patterns),
            "settings": dict(settings),
            "priority": int(priority),
        }

        def mut(templates: dict | None) -> dict:
            templates = templates or {}
            templates[name] = entry
            return templates

        _update_json(self._templates_path, mut)

    def templates(self) -> dict:
        return _read_json(self._templates_path) or {}

    def delete_template(self, name: str) -> None:
        def mut(templates: dict | None) -> dict:
            templates = templates or {}
            templates.pop(name, None)
            return templates

        _update_json(self._templates_path, mut)

    def _match_template(self, index_name: str):
        best = None
        for tname in sorted(self.templates()):
            t = self.templates()[tname]
            if any(
                fnmatch.fnmatch(index_name, p) for p in t["index_patterns"]
            ):
                if best is None or t.get("priority", 0) > best[1].get(
                    "priority", 0
                ):
                    best = (tname, t)
        return best

    # A10 — idempotent create
    def create(self, name: str) -> Index:
        idx = Index(self.spark, self.root, name)
        os.makedirs(idx.paths.base, exist_ok=True)
        tpath = os.path.join(idx.paths.base, "_template.json")
        if _read_json(idx.paths.meta) is None and _read_json(tpath) is None:
            m = self._match_template(name)
            if m is not None:
                _atomic_write_json(
                    tpath, {"template": m[0], **m[1]["settings"]}
                )
        return idx

    def open(self, name: str) -> Index:
        return Index(self.spark, self.root, name)

    @staticmethod
    def index_name(source: str) -> str:
        """`<source>-<utc-ts>` exactly as ingester.go:62-63."""
        return f"{source}-{time.strftime('%Y-%m-%dt%H-%M-%Sz', time.gmtime())}"

    # `<source>-<yyyy-mm-ddthh-mm-ssz>` -> source. Strips the timestamp
    # SUFFIX instead of split('-')[0] (the reference's elastic.go:115
    # approach), so source names containing dashes resolve correctly.
    _TS_SUFFIX = re.compile(r"-\d{4}-\d{2}-\d{2}t\d{2}-\d{2}-\d{2}z$")

    @classmethod
    def source_of(cls, name: str) -> str:
        return cls._TS_SUFFIX.sub("", name)

    # A11 — the one index behind the alias for a source prefix
    def current(self, source: str, alias: str = DEFAULT_ALIAS) -> str | None:
        members = self._read_aliases().get(alias, [])
        hits = [m for m in members if self.source_of(m) == source]
        if len(hits) > 1:
            raise ValueError(f"multiple current indexes for {source}: {hits}")
        return hits[0] if hits else None

    # A12 — atomic promote: add new, drop previous same-source, ONE
    # commit. The alias registry is the one document CONCURRENT drivers
    # mutate, so the mutation runs inside the committer's CAS-retried
    # read-modify-write (update_json) — two simultaneous promotes of
    # different sources both land.
    def promote(self, name: str, alias: str = DEFAULT_ALIAS) -> None:
        source = self.source_of(name)

        def mut(aliases: dict | None) -> dict:
            aliases = aliases or {}
            members = [
                m
                for m in aliases.get(alias, [])
                if self.source_of(m) != source
            ]
            members.append(name)
            aliases[alias] = sorted(members)
            return aliases

        _update_json(self._aliases_path, mut)

    # A13
    def delete(self, name: str) -> None:
        def mut(aliases: dict | None) -> dict:
            aliases = aliases or {}
            for _a, ms in aliases.items():
                if name in ms:
                    ms.remove(name)
            return aliases

        _update_json(self._aliases_path, mut)
        base = os.path.join(self.root, name)
        if os.path.isdir(base):
            shutil.rmtree(base)

    # A14 — reindex. The reference's is a server-side copy
    # (elastic.go:154-164); at 100TB this must be a distributed
    # INSERT...SELECT, so the parquet payloads are copied by Spark
    # read->write per committed segment (scales with the cluster, never
    # streams through the driver). Only the tiny JSON markers move
    # driver-side, and each segment becomes visible in dst only when its
    # _seg.json lands (same atomic-rename commit as ingest), so a
    # crashed reindex re-runs cleanly and readers never see a partial
    # destination segment.
    def reindex(self, src: str, dst: str) -> int:
        s = self.open(src)
        d = self.create(dst)
        meta = _read_json(s.paths.meta)
        if meta is not None:
            m2 = dict(meta)
            m2["name"] = dst
            _atomic_write_json(d.paths.meta, m2)
        for seg in s.paths.committed_segments():
            seg_src, seg_dst = s.paths.seg(seg), d.paths.seg(seg)
            os.makedirs(seg_dst, exist_ok=True)
            for sub in ("docs", "postings", "dictionary"):
                read_table(
                    self.spark, os.path.join(seg_src, sub)
                ).write.mode("overwrite").parquet(os.path.join(seg_dst, sub))
            os.makedirs(os.path.join(d.paths.base, "manifest"), exist_ok=True)
            read_table(self.spark, s.paths.manifest(seg)).write.mode(
                "overwrite"
            ).parquet(d.paths.manifest(seg))
            _atomic_write_json(
                d.paths.seg_meta(seg), _read_json(s.paths.seg_meta(seg)) or {}
            )
        return d.stats()["n_docs"]

    # A15 — listings
    def indexes(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            base = os.path.join(self.root, name)
            if not os.path.isdir(base):
                continue
            idx = self.open(name)
            st = idx.stats()
            size = 0
            for dirpath, _, files in os.walk(base):
                size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            out.append(
                {
                    "index": name,
                    "docs": st["n_docs"],
                    "segments": st["segments"],
                    "size_bytes": size,
                }
            )
        return out

    def aliases(self) -> dict[str, list[str]]:
        return self._read_aliases()

    # A16
    def ping(self) -> dict:
        return {"engine": "mario_spark", "spark": self.spark.version}

    def rollover(
        self,
        source: str,
        max_docs: int,
        alias: str = DEFAULT_ALIAS,
        new_name: str | None = None,
    ) -> str | None:
        """ES ILM rollover: when the alias's current index for `source`
        reaches `max_docs`, mint a fresh `<source>-<ts>` index and
        atomically swap the alias to it — the write alias then points
        at exactly one index per source (ES's is_write_index contract;
        ilm rollover conditions reduce to the doc-count one here since
        segment size tracks doc count). Returns the new index name, or
        None when the condition isn't met. `new_name` pins the minted
        name (tests; the default timestamp name has 1s resolution)."""
        cur = self.current(source, alias)
        if cur is None:
            return None
        if self.open(cur).stats()["n_docs"] < max_docs:
            return None
        name = new_name or self.index_name(source)
        self.create(name)
        self.promote(name, alias)  # drops cur (same source), ONE commit
        return name

    def snapshot(self, name: str, snap_dir: str) -> dict:
        """Point-in-time snapshot of an index: committed segments'
        payloads + markers are copied under `snap_dir` and pinned by a
        snapshot manifest written LAST (atomic rename) — readers of the
        snapshot trust only the manifest, so a crashed snapshot is
        invisible, same contract as ES's snapshot API. On an object
        store this degrades to a manifest pin over immutable segment
        files (Iceberg-style, no byte copy); the local-FS copy is the
        sandbox stand-in."""
        idx = self.open(name)
        segs = idx.paths.committed_segments()
        os.makedirs(snap_dir, exist_ok=True)
        for seg in segs:
            dst = os.path.join(snap_dir, f"segment-{seg:05d}")
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.copytree(idx.paths.seg(seg), dst)
            shutil.copy(
                idx.paths.seg_meta(seg),
                os.path.join(snap_dir, f"segment-{seg:05d}_seg.json"),
            )
            man_src = idx.paths.manifest(seg)
            if os.path.isdir(man_src):
                man_dst = os.path.join(snap_dir, f"manifest-{seg:05d}")
                if os.path.isdir(man_dst):
                    shutil.rmtree(man_dst)
                shutil.copytree(man_src, man_dst)
        meta = _read_json(idx.paths.meta) or {}
        manifest = {
            "index": name,
            "segments": segs,
            "n_docs": idx.stats()["n_docs"],
            "meta": meta,
        }
        _atomic_write_json(
            os.path.join(snap_dir, "_snapshot.json"), manifest
        )
        return manifest

    def restore(self, snap_dir: str, new_name: str) -> Index:
        """Restore a snapshot into a fresh index name. Segments become
        visible only as their _seg.json markers land (after payloads),
        so a crashed restore re-runs cleanly — identical commit
        protocol to ingest/reindex."""
        manifest = _read_json(os.path.join(snap_dir, "_snapshot.json"))
        if manifest is None:
            raise ValueError(f"no snapshot manifest in {snap_dir}")
        d = self.create(new_name)
        meta = dict(manifest.get("meta") or {})
        if meta:
            meta["name"] = new_name
            _atomic_write_json(d.paths.meta, meta)
        os.makedirs(os.path.join(d.paths.base, "manifest"), exist_ok=True)
        for seg in manifest["segments"]:
            src = os.path.join(snap_dir, f"segment-{seg:05d}")
            dst = d.paths.seg(seg)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.copytree(src, dst)
            msrc = os.path.join(snap_dir, f"manifest-{seg:05d}")
            if os.path.isdir(msrc):
                mdst = d.paths.manifest(seg)
                if os.path.isdir(mdst):
                    shutil.rmtree(mdst)
                shutil.copytree(msrc, mdst)
            shutil.copy(
                os.path.join(snap_dir, f"segment-{seg:05d}_seg.json"),
                d.paths.seg_meta(seg),
            )
        return d

    def resolve(self, name_or_alias: str) -> Index:
        """Open by index name or alias (search goes through the alias)."""
        aliases = self._read_aliases()
        if name_or_alias in aliases:
            members = aliases[name_or_alias]
            if len(members) != 1:
                raise ValueError(
                    f"alias {name_or_alias} has {len(members)} members"
                )
            return self.open(members[0])
        return self.open(name_or_alias)

    # ------------------------------------------------- filtered aliases
    @property
    def _alias_filters_path(self) -> str:
        return os.path.join(self.root, "alias_filters.json")

    def put_alias_filter(self, alias: str, terms: list[str]) -> None:
        """ES filtered alias: every search through `alias` applies a
        terms filter — docs must contain at least one of `terms`
        (analyzed with the standard analyzer here, as ES does at alias-
        definition time), in filter context (never scored). Same
        atomic-rename commit as the alias registry."""
        from mario_spark.analyze import py_tokenize

        analyzed = sorted(
            {t for raw in terms for t in py_tokenize(raw)}
        )
        if not analyzed:
            raise ValueError("alias filter needs at least one term")
        def mut(filters: dict | None) -> dict:
            filters = filters or {}
            filters[alias] = analyzed
            return filters

        _update_json(self._alias_filters_path, mut)

    def alias_filter(self, alias: str) -> list[str] | None:
        return (_read_json(self._alias_filters_path) or {}).get(alias)

    def delete_alias_filter(self, alias: str) -> None:
        def mut(filters: dict | None) -> dict:
            filters = filters or {}
            filters.pop(alias, None)
            return filters

        _update_json(self._alias_filters_path, mut)

    def search_via(
        self, name_or_alias: str, query_terms: DataFrame, k: int = 10
    ) -> DataFrame:
        """Search by index name or through an alias; a filtered alias
        applies its terms filter (ES alias-filter semantics).

        An alias holding MULTIPLE members (the TIMDEX pattern — one
        index per source behind timdex-prod) searches all of them
        federated with global stats (dfs_query_then_fetch), like an ES
        query through a multi-index alias; the result then carries an
        `index` column attributing each hit. Single-member aliases and
        bare names return the plain (query_id, rank, doc_id, score)
        shape."""
        flt = self.alias_filter(name_or_alias)
        members = self._read_aliases().get(name_or_alias)
        if members is not None and len(members) != 1:
            from mario_spark.federate import search_indexes

            return search_indexes(
                self, members, query_terms, k=k, filter_terms=flt
            )
        idx = self.resolve(name_or_alias)
        return idx.search(query_terms, k=k, filter_terms=flt)

    # ---------------------------------------------------- search templates
    # ES stored search templates (_scripts/<id> + search_template API):
    # a query_string source with {{param}} mustache placeholders,
    # stored in the catalog registry with the same CAS-safe
    # read-modify-write as aliases/templates, rendered + executed at
    # search time. The mustache subset is {{var}} substitution with
    # strict binding (an unbound placeholder raises, like ES rendering
    # a template whose required param is missing).
    _TPL_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}")

    @property
    def _scripts_path(self) -> str:
        return os.path.join(self.root, "scripts.json")

    def put_search_template(self, name: str, source: str) -> None:
        def mut(scripts: dict | None) -> dict:
            scripts = scripts or {}
            scripts[name] = source
            return scripts

        _update_json(self._scripts_path, mut)

    def get_search_template(self, name: str) -> str:
        scripts = _read_json(self._scripts_path) or {}
        if name not in scripts:
            raise ValueError(f"no search template {name!r}")
        return scripts[name]

    @classmethod
    def render_search_template(cls, source: str, params: dict) -> str:
        unbound = [
            m for m in cls._TPL_RE.findall(source) if m not in params
        ]
        if unbound:
            raise ValueError(
                f"unbound template params {sorted(set(unbound))}"
            )
        return cls._TPL_RE.sub(
            lambda m: str(params[m.group(1)]), source
        )

    def search_template(
        self,
        name_or_alias: str,
        template: str,
        params_per_query: list[tuple[int, dict]],
        k: int = 10,
    ) -> DataFrame:
        """Render the stored template once per (query_id, params) pair
        and run the batch through the index's query_string engine (the
        template source is query_string syntax, ES's most common
        templated query)."""
        src = self.get_search_template(template)
        rendered = [
            (qid, self.render_search_template(src, params))
            for qid, params in params_per_query
        ]
        return self.resolve(name_or_alias).search_query_string(rendered, k=k)
