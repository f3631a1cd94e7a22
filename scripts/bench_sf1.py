"""sf1 stretch bench: per-doc cost at sf0.1 vs a 10x local sf1.

Purpose (round-4 verdict item 9): show the suite's PLANS hold an order
of magnitude up — a query whose per-doc cost grows >2x from 5k to 50k
docs has something super-linear hiding in it (a driver window over the
corpus, a quadratic verify, an unbroadcast join). Fixed Spark overhead
(job scheduling ~0.1-0.3 s/query on this box) is part of the sf0.1
denominator, so per-doc ratios land well BELOW 1 for healthy plans;
the 2x gate still catches real super-linearity because that overhead
only shrinks as a share at sf1.

Protocol:
- .localdata/sf1 is generated (scripts/gen_sf1.py) distribution-matched
  to /root/testdata/sf0.1 — same vocab/unigram mix/lengths/langs and
  same embedding cluster structure, only 10x the rows, seed-pinned.
- ONE Spark session runs both levels back-to-back (same JVM, same
  codegen cache, same box regime), sf0.1 first.
- Shared index builds (_doc_table / _wand_index / _pos_index, and its
  field-keyed twin) are warmed OUTSIDE the timed sections and reported
  as their own lines, so each query's time is the query, not the
  first-toucher's build.
- index_build times a full 500k-doc pages build (the 50k -> 500k point
  for the production ingest path; docs/sec alongside).
- TPC-H/events-backed suite entries are skipped (no sf1 twin of the
  driver's star schema; the documents/embeddings families are the
  scale story this bench pins).

Prints one JSON line:
  {"metric": "sf1_stretch", "sf01": {...}, "sf1": {...},
   "perdoc_ratio": {...}, "max_ratio": ..., "builds": {...}}

Run:  python scripts/bench_sf1.py [--no-index]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF01 = "/root/testdata/sf0.1"
SF1 = str(Path(__file__).resolve().parents[1] / ".localdata" / "sf1")

# documents-backed suite entries from bench.py's list (everything that
# reads only documents.parquet), in bench.py order
DOC_QUERIES = [
    "bm25_topk",
    "term_df",
    "exact_dedup_groups",
    "phrase_topk",
    "phrase_shingle_topk",
    "bpe_encode_tokens",
    "bm25_topk_title",
    "simhash_pairs",
    "fuzzy_topk",
    "facet_terms_lang",
    "search_after_page",
    "phrase_prefix_topk",
    "more_like_this_topk",
    "query_string_topk",
    "query_string_fields_topk",
    "span_near_unordered_topk",
    "gopher_quality",
    "incremental_minhash_dedup",
    "url_dedup",
    "repetition_stats",
    "combined_fields_topk",
    "rrf_hybrid_topk",
    "lm_cross_entropy",
    "intervals_topk",
    "simple_qs_topk",
    "lsh_recall_audit",
    "clf_quality_score",
    "bm25_topk_wand_filtered",
    "span_multi_topk",
    "mixture_resample",
    "exact_substring_dedup",
    "highlight_best_passage",
    # --- round-5 extension (verdict item 8): the expensive families
    # the 38-entry round-4 stretch left out — spans, multiterm
    # expansion, WAND bool variants, the LSH/cluster dedup family,
    # the agg long tail, documents-backed ES|QL, and the hybrid/
    # rerank surfaces. EQL and the events/TPC-H-backed entries stay
    # excluded by protocol (no sf1 twin of the driver's star schema).
    "span_or_topk",
    "span_not_topk",
    "span_first_topk",
    "span_containing_topk",
    "span_within_topk",
    "prefix_topk",
    "wildcard_topk",
    "regexp_topk",
    "fuzzy_damerau_topk",
    "bm25_topk_wand",
    "bm25_topk_and",
    "bm25_topk_not",
    "bm25_topk_msm",
    "minhash_lsh_pairs",
    "chunk_dedup",
    "winnow_fingerprints",
    "dup_ngram_frac",
    "agg_significant_text",
    "agg_variable_width",
    "agg_frequent_item_sets",
    "agg_matrix_stats",
    "agg_percentiles",
    "agg_sampler_terms",
    "scripted_metric_mad",
    "esql_stats",
    "esql_sample",
    "esql_mv_text",
    "multiphrase_topk",
    "sparse_vector_topk",
    "collapse_topk",
    "rerank_topk",
    "categorize_text_docs",
    "bloom_decontaminate",
    "multifield_cross_topk",
]
# embeddings-backed entries (2k vs 20k vectors)
EMB_QUERIES = [
    "ann_pq_topk",
    "ann_int8_rescore",
    "ann_ivfpq_topk",
    "ann_bit_rescore",
    "knn_graph_exact",
    "knn_graph_ivf",
    # round-5 extension
    "ann_ivf_topk",
    "ann_maxsim_topk",
    "semdedup_keep",
    "ivf_recall_audit",
]
# sf0.1-ONLY entries (timed at the low level, no sf1 ratio): the
# quadratic-OUTPUT class the round-5 stretch measured directly. On the
# adversarially dup-dense sf1 corpus, exact char-5-gram all-pairs
# Jaccard and the verified J>=0.8 edge set both exceed ~90 GB of
# shuffle/storage BEFORE completing — with every streaming mitigation
# already on (salted band join, sizes-first verify prune, lineage-cut
# edges). dedup_components and its dependents now refuse above
# MAX_COMPONENT_CANDIDATES by design (ops/dedup.py), so at sf1 they
# raise rather than run the box out of spill disk; the scale paths
# (incremental_near_dup, per-shard components) are named in the error.
SF01_ONLY = [
    "ngram_jaccard_pairs",
    "dedup_components",
    "near_dedup_survivors",
    "dedup_keep_best",
]
N_DOCS = {SF01: 5_000, SF1: 50_000}
N_VECS = {SF01: 2_000, SF1: 20_000}


def main() -> None:
    do_index = "--no-index" not in sys.argv
    if not os.path.exists(f"{SF1}/documents.parquet"):
        os.system(f"python {Path(__file__).parent}/gen_sf1.py {SF1}")

    from mario_spark import docs, suite
    from mario_spark.fixtures import (
        make_pages_query_set,
        pages_df,
        query_terms_df,
    )
    from mario_spark.postings import build_postings
    from mario_spark.session import get_spark
    from mario_spark.wand import search_wand

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # The dense-candidate dedup entries push ~10^9 pair rows through
    # aggregation at sf1; local mode runs all 32 task threads in ONE
    # JVM, so size its heap like 32 executor cores would be sized on a
    # cluster (>=0.75 g/core), and give the big exchanges 2x partitions
    # (AQE coalesces them right back down for the small queries).
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark(
        "bench_sf1", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    # session warm-up (python worker pool + codegen), discarded
    wd = docs.build_doc_table(pages_df(spark, 2000, seed=1)).persist()
    wst = docs.corpus_stats(wd).collect()[0]
    wpost, wdic, _ = build_postings(wd, wst["n_docs"])
    search_wand(
        wpost, wdic,
        query_terms_df(spark, make_pages_query_set(seed=1, n=5)),
        wst["n_docs"], wst["avgdl"], k=10,
    ).count()
    wd.unpersist()

    results: dict[str, dict[str, float]] = {SF01: {}, SF1: {}}
    builds: dict[str, dict[str, float]] = {SF01: {}, SF1: {}}

    for sf_dir in (SF01, SF1):
        # warm shared index caches outside the timed sections
        t0 = time.perf_counter()
        suite._doc_table(spark, sf_dir).count()
        builds[sf_dir]["doc_table"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        suite._wand_index(spark, sf_dir).postings.count()
        builds[sf_dir]["wand_index"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        suite._pos_index(spark, sf_dir).postings.count()
        builds[sf_dir]["pos_index"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        suite._pos_index(spark, sf_dir, fields=True).postings.count()
        builds[sf_dir]["pos_field_index"] = round(time.perf_counter() - t0, 3)

        names = DOC_QUERIES + EMB_QUERIES
        if sf_dir == SF01:
            names = names + SF01_ONLY
        for name in names:
            fn = suite.SUITE[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            results[sf_dir][name] = round(time.perf_counter() - t0, 3)
            print(
                f"[{sf_dir.rsplit('/', 1)[-1]}] {name}: "
                f"{results[sf_dir][name]}s",
                file=sys.stderr, flush=True,
            )
        # NOTE: _doc_table's bounded cache evicts the other sf's entry
        # when the next level builds — intended (suite.py:38-48)

    ratios: dict[str, float] = {}
    for name in DOC_QUERIES + EMB_QUERIES:
        n01, n1 = (
            (N_VECS[SF01], N_VECS[SF1])
            if name in EMB_QUERIES
            else (N_DOCS[SF01], N_DOCS[SF1])
        )
        t01, t1 = results[SF01][name], results[SF1][name]
        ratios[name] = round((t1 / n1) / (t01 / n01), 3) if t01 else -1.0

    out: dict = {
        "metric": "sf1_stretch",
        "unit": "sec",
        "cpus": cpus,
        "sf01": results[SF01],
        "sf1": results[SF1],
        "builds": builds,
        "perdoc_ratio": ratios,
        "max_ratio": max(ratios.values()),
        "max_ratio_query": max(ratios, key=ratios.get),
        "gated_sf01_only": {
            n: results[SF01][n] for n in SF01_ONLY if n in results[SF01]
        },
        "total_sf01": round(sum(results[SF01].values()), 3),
        "total_sf1": round(sum(results[SF1].values()), 3),
    }

    if do_index:
        pages = pages_df(spark, 500_000, seed=42).persist()
        pages.count()
        t0 = time.perf_counter()
        d = docs.build_doc_table(pages).persist()
        st = docs.corpus_stats(d).collect()[0]
        post, dic, _ = build_postings(d, st["n_docs"])
        n_post = post.persist().count()
        t = round(time.perf_counter() - t0, 3)
        out["index_build_500k"] = {
            "sec": t,
            "docs_per_sec": round(500_000 / t, 1),
            "n_postings": n_post,
        }

    print(json.dumps(out))
    # survive stdout-pipeline mishaps: the artifact lands on disk too
    art = Path(__file__).resolve().parents[1] / "BENCH" / "SF1_STRETCH.json"
    art.write_text(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
