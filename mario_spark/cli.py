"""CLI mirroring mario's command surface (A17/A18:
/root/reference/cmd/mario/main.go:34-222 — subcommands aliases,
indexes, ping, ingest, promote, reindex, delete; plus our engine-native (incl. reshard)
query and merge). Deploys via `spark-submit --py-files mario_spark.zip
-m mario_spark.cli ...` or plain `python -m mario_spark.cli`.

Flag parity:
  ingest -s SOURCE [--new] [--auto] [--upsert] [-c json|title|silent|index] FILE
    mario: ingester.go:54-126. `--new` names the index
    `<source>-<utc-ts>` (ingester.go:62-63); without it, appends to the
    current index behind the alias (and never auto-promotes,
    ingester.go:65-73). Consumers: `index` (default; replaces mario's
    `es`) builds the inverted index; `json`/`title`/`silent` are the
    debug sinks of consumers.go:39-94.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

DEFAULT_ROOT = "/tmp/mario_spark_indexes"


def _spark(args):
    from mario_spark.session import get_spark

    return get_spark("mario_spark_cli")


def _catalog(spark, args):
    from mario_spark.index import Catalog

    return Catalog(spark, args.root)


def _load_raw(spark, path: str):
    """JSON-array file (mario's only live format, jsonrecord.go:19-52;
    FAILFAST = its log.Fatal on malformed) or parquet pages/documents."""
    if path.endswith(".json"):
        from mario_spark.record import read_records

        return read_records(spark, path)
    df = spark.read.parquet(path)
    if "text" in df.columns and "url" not in df.columns:
        from mario_spark.fixtures import documents_as_pages

        return documents_as_pages(spark, path.rsplit("/", 1)[0])
    return df


def _as_pages(raw, source: str):
    if "timdex_record_id" in raw.columns:
        from mario_spark.record import records_as_pages

        return records_as_pages(raw, source)
    return raw


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mario-spark")
    ap.add_argument("--root", default=DEFAULT_ROOT, help="catalog root dir")
    ap.add_argument(
        "--committer", default="file", choices=["file", "cas", "s3"],
        help="catalog commit backend: 'file' = atomic rename "
        "(single driver on POSIX), 'cas' = generation-keyed "
        "conditional put (safe for CONCURRENT drivers; the shape an "
        "S3/GCS/Iceberg backend implements), 's3' = the same CAS loop "
        "through an S3-compatible If-None-Match put client (in-sandbox "
        "a file-backed fake under <root>/.objectstore unless "
        "--s3-bucket names a real bucket)",
    )
    ap.add_argument(
        "--s3-bucket", default=None,
        help="with --committer s3: commit to this real S3 bucket through "
        "boto3 (endpoint from MARIO_S3_ENDPOINT, key prefix from "
        "MARIO_S3_PREFIX, credentials from the AWS chain); without it "
        "the file-backed fake is used",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("ping")
    sub.add_parser("aliases")
    sub.add_parser("indexes")

    p = sub.add_parser("ingest")
    p.add_argument("-s", "--source", required=True)
    p.add_argument("--new", action="store_true", dest="new_index")
    p.add_argument("--auto", action="store_true")
    p.add_argument(
        "-c", "--consumer", default="index",
        choices=["index", "json", "title", "silent"],
    )
    p.add_argument(
        "--positions", action="store_true",
        help="index token positions (enables phrase queries)",
    )
    p.add_argument(
        "--upsert", action="store_true",
        help="replace same-url docs instead of plain-appending "
        "(ES bulk same-_id semantics)",
    )
    p.add_argument(
        "--sort-by", dest="sort_by",
        help="ES index.sort: write segment docs sorted by this column "
        "(desc); marker bounds enable sorted-query early termination",
    )
    p.add_argument("file")

    p = sub.add_parser("promote")
    p.add_argument("-i", "--index", required=True)

    p = sub.add_parser("reindex")
    p.add_argument("-i", "--index", required=True)
    p.add_argument("-d", "--destination", required=True)

    p = sub.add_parser("delete")
    p.add_argument("-i", "--index", required=True)

    p = sub.add_parser("reshard")
    p.add_argument("-i", "--index", required=True)
    p.add_argument("-d", "--destination", required=True)
    p.add_argument("--range-width", type=int, required=True,
                   help="docs per dbucket on the new grid (ES _split/_shrink)")

    p = sub.add_parser("query")
    p.add_argument("-i", "--index", required=True, help="index name or alias")
    p.add_argument("-k", type=int, default=10)
    p.add_argument(
        "--phrase", action="store_true",
        help="match_phrase (requires an index ingested with --positions)",
    )
    p.add_argument(
        "--kind",
        choices=[
            "match", "fuzzy", "prefix", "wildcard", "regexp", "query_string",
        ],
        default="match",
        help="query kind; non-match kinds expand the raw pattern "
        "against the term dictionary (ES fuzzy/prefix/wildcard/regexp; "
        "a regexp must use the syntax common to Java and Python regex); "
        "query_string parses the full +must/-not/\"phrase\" mini-language "
        "(needs an index ingested with --positions)",
    )
    p.add_argument(
        "--default-field",
        help="for --kind query_string on a fields=... index: the field "
        "unprefixed atoms target (ES default_field); field:term syntax "
        "scopes clauses to per-field stats",
    )
    p.add_argument("text", nargs="+")

    p = sub.add_parser("merge")
    p.add_argument("-i", "--index", required=True)

    p = sub.add_parser("esql")
    p.add_argument(
        "--data", default="/root/testdata/sf0.01",
        help="directory of parquet tables the FROM clause resolves in",
    )
    p.add_argument("query", help="ES|QL pipeline string")

    p = sub.add_parser("rollover")
    p.add_argument("-s", "--source", required=True)
    p.add_argument("--max-docs", type=int, required=True)

    p = sub.add_parser("snapshot")
    p.add_argument("-i", "--index", required=True)
    p.add_argument("-d", "--dir", required=True, help="snapshot directory")

    p = sub.add_parser("restore")
    p.add_argument("-d", "--dir", required=True, help="snapshot directory")
    p.add_argument("-i", "--index", required=True, help="new index name")

    p = sub.add_parser("delete-by-query")
    p.add_argument("-i", "--index", required=True)
    p.add_argument(
        "terms", nargs="+",
        help="docs containing ANY of these terms are tombstoned "
        "(purged physically at the next merge)",
    )

    args = ap.parse_args(argv)
    if args.committer == "cas":
        from mario_spark.index import CasCommitter, set_committer

        set_committer(CasCommitter())
    elif args.committer == "s3":
        from mario_spark.index import ObjectStoreCommitter, set_committer
        from mario_spark.objectstore import Boto3S3Store, FakeS3Store

        # the real store is an explicit opt-in: only --s3-bucket selects
        # a boto3 client; otherwise the file-backed fake under
        # <root>/.objectstore, same contract
        if args.s3_bucket:
            store = Boto3S3Store.from_env(args.s3_bucket)
            where = f"s3://{args.s3_bucket}/{store.prefix}"
        else:
            where = os.path.join(args.root, ".objectstore")
            store = FakeS3Store(where)
        print(
            f"committer: s3 via {type(store).__name__} at {where}",
            file=sys.stderr,
        )
        set_committer(ObjectStoreCommitter(store))
    spark = _spark(args)
    cat = _catalog(spark, args)

    if args.cmd == "ping":
        print(json.dumps(cat.ping()))
    elif args.cmd == "aliases":
        print(json.dumps(cat.aliases(), indent=1))
    elif args.cmd == "indexes":
        print(json.dumps(cat.indexes(), indent=1))
    elif args.cmd == "ingest":
        raw = _load_raw(spark, args.file)
        if args.consumer == "json":
            # consumers.go:39-59 — pretty JSON to stdout
            for row in raw.toJSON().collect():
                print(row)
            return 0
        if args.consumer == "title":
            # consumers.go:68-77 — single-column projection of Title
            col = "title" if "title" in raw.columns else "url"
            for r in raw.select(col).collect():
                print(r[0])
            return 0
        if args.consumer == "silent":
            print(raw.count())
            return 0
        pages = _as_pages(raw, args.source)
        if args.new_index:
            name = cat.index_name(args.source)
            idx = cat.create(name)
            st = idx.ingest(
                pages, source=args.file, positions=args.positions,
                sort_docs_by=args.sort_by,
            )
        else:
            name = cat.current(args.source)
            if name is None:
                name = cat.index_name(args.source)
            args.auto = False  # ingester.go:72 — never auto-promote appends
            idx = cat.create(name)
            # append into the current index (mario's default path,
            # ingester.go:65-73); falls back to a fresh build if empty.
            # --upsert gives ES bulk same-_id semantics: same-url docs
            # are replaced (tombstoned), not duplicated
            if args.upsert:
                st = idx.upsert(pages, source=args.file)
            else:
                st = idx.append(pages, source=args.file)
        if args.auto:
            cat.promote(name)
        print(json.dumps({"index": name, **st}))
    elif args.cmd == "promote":
        cat.promote(args.index)
        print(json.dumps(cat.aliases()))
    elif args.cmd == "reindex":
        n = cat.reindex(args.index, args.destination)
        print(n)
    elif args.cmd == "delete":
        cat.delete(args.index)
    elif args.cmd == "query":
        from mario_spark.fixtures import query_terms_df

        if args.phrase:
            idx = cat.resolve(args.index)
            res = idx.search_phrase([(0, " ".join(args.text))], k=args.k)
        elif args.kind == "query_string":
            idx = cat.resolve(args.index)
            res = idx.search_query_string(
                [(0, " ".join(args.text))], k=args.k,
                default_field=args.default_field,
            )
        elif args.kind != "match":
            idx = cat.resolve(args.index)
            res = idx.search_multiterm(
                [(0, " ".join(args.text))], kind=args.kind, k=args.k
            )
        else:
            # match goes through search_via so alias semantics apply:
            # an alias filter restricts results, a multi-member alias
            # federates across its members (dfs_query_then_fetch) —
            # resolve only AFTER, since resolve() rejects multi-member
            q = query_terms_df(spark, [(0, " ".join(args.text))])
            res = cat.search_via(args.index, q, k=args.k)
            if "index" in res.columns:  # federated: attribute hits
                docs_u = None
                for m in cat._read_aliases().get(args.index, []):
                    dm = cat.open(m).docs().select("doc_id", "url")
                    docs_u = dm if docs_u is None else docs_u.unionByName(dm)
                out = (
                    res.join(docs_u, "doc_id").orderBy("rank").collect()
                )
                for r in out:
                    print(json.dumps({
                        "rank": r["rank"], "index": r["index"],
                        "doc_id": r["doc_id"], "score": r["score"],
                        "url": r["url"],
                    }))
                return 0
            idx = cat.resolve(args.index)
        docs = idx.docs().select("doc_id", "url")
        out = (
            res.join(F.broadcast(docs.join(res.select("doc_id"), "doc_id")), "doc_id")
            .orderBy("rank")
            .collect()
        )
        for r in out:
            print(json.dumps({"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"], "url": r["url"]}))
    elif args.cmd == "reshard":
        from mario_spark.merge import reshard

        d = reshard(cat, args.index, args.destination, args.range_width)
        print(json.dumps({"index": args.destination, **d.stats()}))
    elif args.cmd == "merge":
        from mario_spark.merge import compact_segments

        seg = compact_segments(cat.resolve(args.index))
        print(json.dumps({"merged_into": seg}))
    elif args.cmd == "esql":
        from mario_spark.esql import run_esql

        for row in run_esql(spark, args.data, args.query).toJSON().collect():
            print(row)
    elif args.cmd == "rollover":
        name = cat.rollover(args.source, max_docs=args.max_docs)
        print(json.dumps({"rolled_over": name is not None, "new_index": name}))
    elif args.cmd == "snapshot":
        print(json.dumps(cat.snapshot(args.index, args.dir)))
    elif args.cmd == "restore":
        idx = cat.restore(args.dir, args.index)
        print(json.dumps({"index": args.index, **idx.stats()}))
    elif args.cmd == "delete-by-query":
        from mario_spark.analyze import py_tokenize

        idx = cat.resolve(args.index)
        terms = [t for raw in args.terms for t in py_tokenize(raw)]
        print(json.dumps(idx.delete_by_query(terms)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
