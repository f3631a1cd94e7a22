"""Training-pipeline ops: planted-duplicate recovery on the synthetic
pages corpus, LSH recall vs brute force, multimodal stub gating."""

from __future__ import annotations

import numpy as np
import pytest

from mario_spark.fixtures import pages_df
from mario_spark.ops import ann, dedup, multimodal


@pytest.fixture(scope="module")
def docs_pdf(spark):
    # doc i%100==7 (i>=100) is an EXACT dup of i-100; i%100==13 a NEAR dup
    from pyspark.sql import functions as F

    p = pages_df(spark, 500, seed=11, partitions=4)
    return p.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    ).persist()


def test_minhash_finds_planted_exact_dups(spark, docs_pdf):
    pairs = dedup.minhash_lsh_pairs(docs_pdf, threshold=0.9).toPandas()
    planted = {(i - 100, i) for i in range(100, 500) if i % 100 == 7}
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    # every exact dup pair must be recovered with jaccard 1.0
    assert planted <= found
    j = pairs.set_index(["doc_a", "doc_b"])["jaccard"]
    for p in planted:
        assert j[p] == 1.0


def test_simhash_exact_dups_have_zero_hamming(spark, docs_pdf):
    pairs = dedup.simhash_pairs(docs_pdf, max_hamming=0).toPandas()
    planted = {(i - 100, i) for i in range(100, 500) if i % 100 == 7}
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    assert planted <= found


def test_ngram_jaccard_finds_exact_dups(spark, docs_pdf):
    pairs = dedup.ngram_jaccard_pairs(docs_pdf, threshold=0.99).toPandas()
    planted = {(i - 100, i) for i in range(100, 500) if i % 100 == 7}
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    assert planted <= found


def test_ann_brute_matches_numpy(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = ann.brute_topk(e, [0, 7], k=5).toPandas()
    pdf = e.toPandas().sort_values("vec_id")
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for qid in (0, 7):
        c = Vn[ids == qid] @ Vn.T
        c = c.ravel()
        mask = ids != qid
        cm, im = np.round(c[mask], 4), ids[mask]
        order = np.lexsort((im, -cm))[:5]
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert sub["vec_id"].tolist() == im[order].tolist()
        np.testing.assert_allclose(sub["cos"].to_numpy(), cm[order], atol=1e-9)


def test_multimodal_stub_gating(spark):
    assert multimodal._decode_image(b"IMG000800100abcdef")[0] == 80
    if not multimodal.HAVE_PIL:
        with pytest.raises(NotImplementedError):
            multimodal._decode_image(b"IMG000800100abcdef", fake=False)
    # malformed payloads degrade to zeros, never crash the batch
    assert multimodal._decode_image(b"short") == (0, 0, 0.0)


def test_multimodal_plumbing_roundtrip(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = multimodal.decode_features(multimodal.synth_payload(d)).toPandas()
    src = d.select("doc_id", "n_chars").toPandas()
    m = out.merge(src, on="doc_id")
    assert (m["width"] == 64 + m["n_chars"] % 577).all()
    assert (m["height"] == 64 + m["doc_id"] % 419).all()
    assert (m["n_bytes"] > 12).all()


def test_ivf_kmeans_training(spark):
    """Distributed Lloyd's: deterministic, k cells, 64-dim centroids,
    and refined centroids reduce total assignment distance vs init."""
    from mario_spark.ops import ann
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    init = list(range(10, 18))
    c1 = ann.train_centroids_kmeans(e, init, iters=2).toPandas()
    c2 = ann.train_centroids_kmeans(e, init, iters=2).toPandas()
    assert len(c1) == len(init)
    assert all(len(v) == 64 for v in c1["cvec"])
    # determinism across runs
    a = c1.sort_values("cell", ignore_index=True)
    b = c2.sort_values("cell", ignore_index=True)
    assert a["cell"].tolist() == b["cell"].tolist()
    for va, vb in zip(a["cvec"], b["cvec"]):
        np.testing.assert_allclose(np.array(va), np.array(vb), atol=0)

    def total_dist(cents_df):
        cents = spark.createDataFrame(
            [(int(r["cell"]), [float(x) for x in r["cvec"]]) for _, r in cents_df.iterrows()],
            "cell long, cvec array<float>",
        )
        dist = e.crossJoin(F.broadcast(cents)).withColumn(
            "d", ann._sq_l2("embedding", "cvec")
        )
        return (
            dist.groupBy("vec_id").agg(F.min("d").alias("d")).agg(F.sum("d")).collect()[0][0]
        )

    init_cents = (
        e.filter(F.col("vec_id").isin(init))
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
        .toPandas()
    )
    assert total_dist(c1) < total_dist(init_cents)


def test_write_shards_deterministic_and_complete(spark, tmp_path):
    """Shard assignment is stable across runs (crc32 of the key), the
    union of shards is exactly the input, and the manifest's row
    counts are written last and sum to the total."""
    import json
    import os

    from mario_spark.ops.sink import write_shards

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    man = write_shards(d, out, n_shards=4)
    assert sum(m["rows"] for m in man) == d.count()
    assert os.path.exists(os.path.join(out, "_manifest.json"))
    back = spark.read.parquet(out).drop("_shard")
    assert back.count() == d.count()
    assert (
        back.select("doc_id").exceptAll(d.select("doc_id")).count() == 0
    )
    # determinism: second export assigns every row to the same shard
    out2 = str(tmp_path / "shards2")
    man2 = write_shards(d, out2, n_shards=4)
    assert [m["rows"] for m in man] == [m["rows"] for m in man2]
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f) == man


def test_pq_codes_shape_and_determinism(spark):
    """PQ encode: 8 codes per vector, all in [0, 16); two runs agree
    (deterministic codebook + argmin)."""
    from mario_spark.ops import ann

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = {r["vec_id"]: list(r["codes"]) for r in ann.pq_encode(e).collect()}
    c2 = {r["vec_id"]: list(r["codes"]) for r in ann.pq_encode(e).collect()}
    assert c1 == c2 and len(c1) == e.count()
    for codes in c1.values():
        assert len(codes) == 8 and all(0 <= c < 16 for c in codes)
    # sample vectors encode to themselves in every subspace
    assert c1[0] == [0] * 8 and c1[7] == [7] * 8


def test_esql_rejects_malformed(spark):
    """ES|QL parser: bad FROM / unknown command / bad WHERE all raise
    ValueError naming the stage — never silently ignored."""
    import pytest

    from mario_spark.esql import run_esql

    SF = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="bad FROM"):
        run_esql(spark, SF, "FROM nope | LIMIT 1")
    with pytest.raises(ValueError, match="unknown command"):
        run_esql(spark, SF, "FROM documents | FROB x")
    with pytest.raises(ValueError, match="bad WHERE"):
        run_esql(spark, SF, "FROM documents | WHERE lang LIKE 'x'")


def test_esql_round2d_grammar(spark):
    """Round-2d ES|QL additions: ROW source, string/math scalars with
    edge semantics pinned (RIGHT longer than the string, LOCATE miss =
    0, DATE_DIFF sign), MV functions, OR precedence, NULLS ordering."""
    from mario_spark.esql import run_esql

    SF = "/root/testdata/sf0.001"
    r = run_esql(
        spark, SF,
        'ROW s = "ab", t = "hello world" '
        "| EVAL r = RIGHT(s, 5) "
        '| EVAL miss = LOCATE(t, "zz") '
        '| EVAL hit = LOCATE(t, "world") '
        '| EVAL rep = REPLACE(t, "l", "L")',
    ).collect()[0]
    assert r["r"] == "ab"  # RIGHT(n >= len) returns the whole string
    assert r["miss"] == 0 and r["hit"] == 7
    assert r["rep"] == "heLLo worLd"

    d = run_esql(
        spark, SF,
        'ROW a = "2024-01-02 06:30:00", b = "2024-01-01 00:00:00" '
        '| EVAL fwd = DATE_DIFF("hour", b, a) '
        '| EVAL back = DATE_DIFF("day", a, b)',
    ).collect()[0]
    assert d["fwd"] == 30 and d["back"] == -1  # complete units, signed

    mv = run_esql(
        spark, SF,
        'ROW t = "c a b a" | EVAL xs = SPLIT(t, " ") '
        "| EVAL n = MV_COUNT(xs) | EVAL ded = MV_DEDUPE(xs) "
        '| EVAL srt = MV_SORT(xs) | EVAL j = MV_CONCAT(ded, "-") '
        "| EVAL mn = MV_MIN(xs)",
    ).collect()[0]
    assert mv["n"] == 4 and mv["ded"] == ["a", "b", "c"]
    assert mv["srt"] == ["a", "a", "b", "c"] and mv["j"] == "a-b-c"
    assert mv["mn"] == "a"

    # OR binds looser than AND: en-docs OR (de AND impossible) == en-docs
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_en = docs.filter("lang = 'en'").count()
    got = run_esql(
        spark, SF,
        'FROM documents | WHERE lang == "en" '
        'OR lang == "de" AND n_chars < 0 | STATS n = COUNT(*)',
    ).collect()[0]["n"]
    assert got == n_en

    # SORT ... NULLS FIRST puts the null rows ahead under a LIMIT
    nf = run_esql(
        spark, SF,
        "FROM documents | EVAL v = CASE(n_chars < 0, n_chars, NULL) "
        "| KEEP doc_id, v | SORT v ASC NULLS FIRST, doc_id ASC | LIMIT 3",
    ).collect()
    assert all(row["v"] is None for row in nf)

    # STATS TOP asc + WEIGHTED_AVG with a per-agg WHERE mask
    st = run_esql(
        spark, SF,
        "FROM documents | STATS "
        'low3 = TOP(n_chars, 3, "asc"), '
        "wa = WEIGHTED_AVG(n_chars, doc_id) WHERE doc_id > 0",
    ).collect()[0]
    pdf = docs.toPandas()
    assert list(st["low3"]) == sorted(pdf["n_chars"])[:3]
    m = pdf[pdf["doc_id"] > 0]
    exp = round(
        float((m["n_chars"] * m["doc_id"]).sum() / m["doc_id"].sum()), 4
    )
    assert abs(st["wa"] - exp) < 1e-9


def test_rank_eval_dedupes_judgments(spark):
    """Duplicate judgment rows must not double-count hits/DCG."""
    from mario_spark.ops import evalx

    res = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 20)], "query_id long, rank long, doc_id long"
    )
    jud = spark.createDataFrame(
        [(0, 10), (0, 10), (0, 10)], "query_id long, doc_id long"
    )
    out = evalx.rank_eval(res, jud, k=2).collect()[0]
    assert out["hits"] == 1 and out["n_rel"] == 1
    assert out["precision"] == 0.5 and out["recall"] == 1.0
    assert out["mrr"] == 1.0 and out["ndcg"] == 1.0


def test_bpe_train_matches_python_reference(spark):
    """The distributed BPE loop must learn the exact rule sequence a
    single-process reference implementation learns (count desc, pair
    asc tie-break), including the feedback step where rule k changes
    the pair counts rule k+1 sees."""
    from collections import Counter

    from mario_spark.ops.textstats import bpe_train

    texts = ["abab", "abcc", "ccab", "ababab"]

    def ref_train(corpus, n):
        rules = []
        for _ in range(n):
            cnt = Counter()
            for t in corpus:
                syms = list(t)
                for a, b in rules:
                    out, i = [], 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            out.append(a + b); i += 2
                        else:
                            out.append(syms[i]); i += 1
                    syms = out
                cnt.update(zip(syms, syms[1:]))
            if not cnt:
                break
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            rules.append(best)
        return rules

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train(df, n_merges=4)
    assert got == ref_train(texts, 4)
    # first rule sanity: 'ab' dominates this corpus
    assert got[0] == ("a", "b")


def test_bloom_membership_flags_planted_duplicates(spark):
    """Docs byte-identical to a reference doc must flag (a Bloom filter
    has no false negatives); a clearly novel doc must not flag on a
    sparse filter."""
    from pyspark.sql import functions as F

    from mario_spark.ops.dedup import bloom_membership

    rows = [
        (0, "the quick brown fox", "ref"),
        (1, "lorem ipsum dolor sit", "ref"),
        (2, "the quick brown fox", "train"),   # exact dup of doc 0
        (3, "completely novel text here", "train"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: (r["n_hits"], r["bloom_dup"])
        for r in bloom_membership(df, F.col("source") == "ref").collect()
    }
    assert set(out) == {2, 3}
    assert out[2] == (3, True)
    # 2 ref docs * 3 probes over 2^16 bits -> P(any single probe hit)
    # ~1e-4; all-3 false positive is ~1e-12, so doc 3 must be clean
    assert out[3][1] is False


def test_exact_substring_dedup_rewrite(spark):
    """Hand-checkable corpus: doc 1 repeats doc 0's 8-token opening, so
    its copy (the later occurrence) is cut while doc 0 keeps it; unique
    tails survive; a doc shorter than the gram width is untouched."""
    from mario_spark.ops.dedup import exact_substring_dedup

    shared = "a b c d e f g h"  # exactly 8 tokens -> one shared 8-gram
    rows = [
        (0, shared + " unique zero tail"),
        (1, shared + " different one ending"),
        (2, "wholly original text"),  # 3 tokens < n: no grams, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, n=8).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 0: first occurrence -> nothing cut
    assert got[0]["n_removed"] == 0 and got[0]["n_spans"] == 0
    assert got[0]["clean_hash"] == md5("a b c d e f g h unique zero tail")
    # doc 1: the 8 shared tokens cut as ONE span; its own tail kept
    assert got[1]["n_tokens"] == 11
    assert got[1]["n_removed"] == 8 and got[1]["n_spans"] == 1
    assert got[1]["clean_hash"] == md5("different one ending")
    # doc 2: too short for any gram
    assert got[2]["n_removed"] == 0
    assert got[2]["clean_hash"] == md5("wholly original text")


def test_exact_substring_dedup_within_doc_repeat(spark):
    """A doc repeating its own 8-gram keeps only the first occurrence
    (the global keep-one rule applies within a doc too)."""
    from mario_spark.ops.dedup import exact_substring_dedup

    text = "p q r s t u v w SEP p q r s t u v w"  # 8-gram, sep, same 8-gram
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = exact_substring_dedup(df, n=8).collect()[0]
    assert row["n_tokens"] == 17
    assert row["n_removed"] == 8 and row["n_spans"] == 1
    import hashlib

    assert row["clean_hash"] == hashlib.md5(
        b"p q r s t u v w sep"
    ).hexdigest()  # tokenizer lowercases


def test_pack_best_fit_invariants(spark):
    """Every bin fits in seq_len; docs shorter than seq_len are never
    split; every doc's tokens are fully assigned; bin count is within
    the FFD guarantee (11/9 OPT + 1) of the lower bound."""
    import math

    from mario_spark.ops.sample import pack_best_fit

    rows = [(i, "tok " * (7 * i % 23 + (50 if i % 5 == 0 else 1)))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = 16
    out = pack_best_fit(df, seq_len=L, n_shards=4).toPandas()

    # bins respect capacity and fills are internally consistent
    fills = out.groupby(["shard", "bin_id"])["n_tokens"].sum()
    assert (fills <= L).all()
    assert (
        out.set_index(["shard", "bin_id"])["bin_fill"]
        == fills.reindex(
            out.set_index(["shard", "bin_id"]).index
        )
    ).all()

    # per-doc token conservation vs an independent count
    import re

    expect = {
        i: len(re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", t.lower()))
        for i, t in rows
    }
    got = out.groupby("doc_id")["n_tokens"].sum().to_dict()
    assert got == expect

    # short docs are one piece; long docs shed floor(n/L) full pieces
    pieces = out.groupby("doc_id").size().to_dict()
    for i, n in expect.items():
        want = n // L + (1 if (n % L or n == 0) else 0)
        assert pieces[i] == max(want, 1), (i, n, pieces[i])

    # FFD quality per shard: bins <= ceil(11/9 * OPT_lower) + 1
    for shard, grp in out.groupby("shard"):
        n_bins = grp["bin_id"].nunique()
        lower = math.ceil(grp.drop_duplicates(
            ["doc_id", "piece_idx"])["n_tokens"].sum() / L)
        assert n_bins <= math.ceil(11 / 9 * lower) + 1, (shard, n_bins, lower)


def test_pack_best_fit_deterministic(spark):
    """Same input twice -> bit-identical piece/bin assignment."""
    from mario_spark.ops.sample import pack_best_fit

    rows = [(i, "w " * (i % 13 + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = pack_best_fit(df, seq_len=8, n_shards=4).toPandas().sort_values(
        ["doc_id", "piece_idx"], ignore_index=True)
    b = pack_best_fit(df, seq_len=8, n_shards=4).toPandas().sort_values(
        ["doc_id", "piece_idx"], ignore_index=True)
    assert a.equals(b)


def test_variable_width_histogram_invariants(spark):
    """Largest-gap clustering: <= `buckets` non-overlapping buckets,
    counts sum to the non-null rows, boundaries deterministic, and the
    widest gaps in the value domain are BETWEEN buckets, not inside."""
    from pyspark.sql import functions as F

    from mario_spark.ops.aggs import variable_width_histogram

    rows = [(float(v),) for v in [1, 2, 3, 50, 51, 52, 900, 901, 2000]]
    df = spark.createDataFrame(rows * 3, "v double")  # duplicates too
    out = variable_width_histogram(df, "v", buckets=4).collect()
    assert len(out) == 4
    assert sum(r["doc_count"] for r in out) == len(rows) * 3
    # contiguous, non-overlapping, sorted
    for a, b in zip(out, out[1:]):
        assert a["max"] < b["min"]
    # the four natural clusters split exactly at the three widest gaps
    assert [(r["min"], r["max"]) for r in out] == [
        (1.0, 3.0), (50.0, 52.0), (900.0, 901.0), (2000.0, 2000.0)
    ]
    # centroid = bucket mean
    assert out[0]["centroid"] == 2.0
    # deterministic across re-runs
    again = variable_width_histogram(df, "v", buckets=4).collect()
    assert out == again


def test_bpe_encode_matches_python_twin(spark):
    """The replace() chain (engine) must equal the classical symbol-pass
    BPE apply loop — including chained merges and overlap traps."""
    from mario_spark.ops.textstats import bpe_encode_stats, py_bpe_encode

    texts = ["the merger thinks", "ers erer eer", "", "s", "anthers in er"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_syms"] for r in bpe_encode_stats(d).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(py_bpe_encode(t)), (i, t)


def test_esql_paren_groups_and_quoted_pipes(spark):
    """WHERE parentheses recurse into the full condition grammar, and
    '|' / '(' inside string literals never split stages or groups."""
    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    got = run_esql(
        spark, sf,
        'FROM documents | WHERE source == "src1" OR '
        '(lang == "en" AND n_chars > 100) | STATS c = COUNT(*)',
    ).collect()[0]["c"]
    assert got == 190  # verified against DuckDB

    neg = run_esql(
        spark, sf,
        'FROM documents | WHERE NOT (lang == "en" OR lang == "de") '
        "| STATS c = COUNT(*)",
    ).collect()[0]["c"]
    assert neg == 236

    piped = run_esql(
        spark, sf,
        'FROM documents | WHERE source == "a | b" | STATS c = COUNT(*)',
    ).collect()[0]["c"]
    assert piped == 0

    import pytest as _pt

    with _pt.raises(ValueError, match="unterminated"):
        run_esql(spark, sf, 'FROM documents | WHERE source == "oops | LIMIT 1')


def test_esql_fuse_uses_branch_sort_order(spark):
    """FUSE must rank each FORK branch by ITS OWN SORT ordering — a
    branch sorted ts/doc_id ASC fuses with those ranks, not a guessed
    _score DESC re-derivation (the rank is captured at FORK
    materialization as _fork_rank)."""
    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    # branch 1 ranks doc_id ASC (so _id=0 is rank 1), branch 2 ranks
    # doc_id DESC; neither branch's _score agrees with its SORT, so a
    # _score-derived rank would invert branch 1.
    got = run_esql(
        spark, sf,
        "FROM documents | RENAME doc_id AS _id | EVAL _score = _id * 0.0 "
        "| FORK ( SORT _id ASC | LIMIT 3 ) ( SORT _id DESC | LIMIT 3 ) "
        "| FUSE | SORT _score DESC, _id ASC",
    ).collect()
    scores = {r["_id"]: r["_score"] for r in got}
    n_docs = 500  # sf0.001 documents rows
    # rank-1 of each branch: _id 0 (asc) and _id n-1 (desc)
    assert abs(scores[0] - 1.0 / 61.0) < 1e-6  # FUSE rounds 6dp
    assert abs(scores[n_docs - 1] - 1.0 / 61.0) < 1e-6
    # rank-2s score strictly less
    assert scores[1] < scores[0] and scores[n_docs - 2] < scores[n_docs - 1]


def test_esql_fuse_unranked_branch_raises(spark):
    """A FORK feeding FUSE where no branch is rankable (no SORT, no
    _score/_id) must raise, not fuse garbage."""
    import pytest

    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="FUSE needs a FORK"):
        run_esql(
            spark, sf,
            "FROM documents | FORK ( LIMIT 2 ) ( LIMIT 3 ) | FUSE",
        )


def test_query_string_default_field_requires_fields_index(spark, tmp_path):
    """Passing default_field against a non-field-scoped index raises
    instead of silently ignoring the flag (a typo'd --default-field
    must not change nothing)."""
    import pytest

    from mario_spark.fixtures import pages_df
    from mario_spark.index import Catalog

    pages = pages_df(spark, 60, seed=3, partitions=2)
    cat = Catalog(spark, str(tmp_path / "catalog"))
    idx = cat.create("pages-2026-01-01t00-00-00z")
    idx.ingest(pages, positions=True)
    with pytest.raises(ValueError, match="no fields config"):
        idx.search_query_string([(0, "hello")], default_field="title")


def test_highlight_best_passage_picks_highest_idf_sum(spark):
    """The unified-highlighter contract: a LATER passage matching both
    terms must beat an earlier passage matching only the common term,
    every matched word in the winning passage gets wrapped, and
    no-match rows are dropped."""
    from mario_spark.ops.highlight import highlight_best_passage

    filler = " ".join(f"f{i}" for i in range(30))
    rows = [
        # passage 1: only 'hash'; passage 2: 'hash' AND 'join' -> wins
        (0, "hash " + " ".join(f"a{i}" for i in range(29))
            + " join hash z"),
        (1, filler),                      # no match -> dropped
        (2, "x Join y"),                  # case-insensitive match
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = highlight_best_passage(
        d, "text", {"hash": 2.0, "join": 1.0}, passage_words=30
    ).toPandas().set_index("doc_id")
    assert sorted(out.index) == [0, 2]
    assert out.loc[0, "passage"] == 2 and out.loc[0, "score"] == 3.0
    assert out.loc[0, "snippet"] == "<em>join</em> <em>hash</em> z"
    assert out.loc[2, "passage"] == 1 and out.loc[2, "score"] == 1.0
    assert out.loc[2, "snippet"] == "x <em>Join</em> y"


def test_knn_graph_matches_numpy_and_ivf_is_subset(spark):
    """knn_graph == the NxN numpy reference on every src; knn_graph_ivf
    returns edges whose endpoints share a probed cell, each edge's cos
    agreeing with the exact graph's value for that (src, dst)."""
    from mario_spark.ops import ann

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = ann.knn_graph(e, k=5).toPandas()
    pdf = e.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(np.int64)
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 4)
    np.fill_diagonal(cos, -np.inf)
    for i, src in enumerate(ids):
        order = np.lexsort((ids, -cos[i]))[:5]
        sub = got[got["src"] == src].sort_values("rank")
        assert sub["dst"].tolist() == ids[order].tolist(), src
        np.testing.assert_allclose(
            sub["cos"].to_numpy(), cos[i][order], atol=1e-9
        )
    # ivf variant: 5 edges per src here (probed cells hold >= 5
    # others), and each edge's cos equals the exact pairwise value
    ivf = ann.knn_graph_ivf(e, k=5).toPandas()
    assert (ivf.groupby("src").size() == 5).all()
    pos = {v: i for i, v in enumerate(ids)}
    for r in ivf.itertuples():
        assert abs(cos[pos[r.src], pos[r.dst]] - r.cos) < 1e-9


def test_knn_graph_count_gate_never_collects_big_corpus(spark, monkeypatch):
    """Above max_broadcast_vectors the exact knn_graph must raise with a
    pointer to knn_graph_ivf BEFORE any driver-side materialization —
    a 10^9-row corpus gets an actionable error, not a driver OOM."""
    import pytest
    from pyspark.sql import DataFrame

    from mario_spark.ops import ann

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def boom(self, *a, **k):
        raise AssertionError("toPandas() called on the gated path")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    with pytest.raises(ValueError, match="knn_graph_ivf"):
        ann.knn_graph(e, k=5, max_broadcast_vectors=10)


def test_fork_without_fuse_has_no_rank_column(spark):
    """A FORK not consumed by FUSE must emit ES|QL's own columns — no
    internal _fork_rank — even when a branch ends in SORT."""
    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    out = run_esql(
        spark, sf,
        "FROM documents | FORK ( SORT doc_id ASC | LIMIT 3 ) "
        "( SORT doc_id DESC | LIMIT 3 ) | SORT _fork ASC, doc_id ASC",
    )
    assert "_fork_rank" not in out.columns
    assert out.count() == 6


def test_fork_fuse_whitespace_sort_and_where_after_sort(spark):
    """Rank capture must survive tab/newline whitespace after SORT and
    keep the declared ordering across a later WHERE (filters preserve
    relative order, so ranks come from the branch's own SORT over the
    surviving rows, not a _score fallback)."""
    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    got = run_esql(
        spark, sf,
        "FROM documents | RENAME doc_id AS _id | EVAL _score = _id * 0.0 "
        "| FORK ( SORT\t_id\nASC | WHERE _id >= 2 | LIMIT 3 ) "
        "( SORT _id DESC | LIMIT 3 ) "
        "| FUSE | SORT _score DESC, _id ASC",
    ).collect()
    scores = {r["_id"]: r["_score"] for r in got}
    # branch 1 survivors are _id 2,3,4 -> ranks 1,2,3 by its OWN sort;
    # a _score-fallback would rank ties by _id asc too, so also pin the
    # branch-2 side where _score order would invert the ranks
    assert abs(scores[2] - 1.0 / 61.0) < 1e-6
    assert scores[3] < scores[2] and scores[4] < scores[3]
    n = 500
    assert abs(scores[n - 1] - 1.0 / 61.0) < 1e-6


def test_fork_fuse_dropped_sort_key_raises(spark):
    """A FUSE-feeding branch that SORTs then DROPs its sort key has an
    underivable declared ordering: raise, never silently substitute a
    _score order that may contradict it."""
    import pytest

    from mario_spark.esql import run_esql

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="removed the sort key"):
        run_esql(
            spark, sf,
            "FROM documents | RENAME doc_id AS _id "
            "| EVAL _score = TO_DOUBLE(n_chars) "
            "| FORK ( SORT n_chars ASC | LIMIT 3 | DROP n_chars ) "
            "( SORT _id DESC | LIMIT 3 ) | FUSE",
        )


def test_prefix_window_includes_max_codepoint_terms():
    """The bisect window's exclusive upper bound must be derived by
    code-point increment: a vocabulary term pfx+U+10FFFF+suffix sorts
    ABOVE the naive pfx+chr(0x10FFFF) sentinel yet still matches the
    prefix, so the old bound silently dropped it."""
    from mario_spark.wand import TermStats

    weird = "ab\U0010ffffz"
    s = TermStats(
        df_map={t: 1 for t in ["aa", "ab", "abc", weird, "ac", "b"]}
    )
    got = s.prefix_windows(["ab"])["ab"]
    assert got == ["ab", "abc", weird]
    # all-U+10FFFF prefix: no finite upper bound, window runs to end
    s2 = TermStats(
        df_map={"\U0010ffff": 1, "\U0010ffff\U0010ffffx": 1, "a": 1}
    )
    assert s2.prefix_windows(["\U0010ffff"])["\U0010ffff"] == [
        "\U0010ffff", "\U0010ffff\U0010ffffx"
    ]


def test_doc_cache_evicts_other_sf_dirs(spark):
    """The suite's persisted doc-table cache must hold at most ONE
    entry per application (ADVICE: unbounded growth across sf sweeps)."""
    from mario_spark import suite

    suite.clear_doc_cache()
    suite._doc_table(spark, "/root/testdata/sf0.001")
    a = suite._doc_table(spark, "/root/testdata/sf0.01")
    assert len(suite._DOC_CACHE) == 1
    # same-sf call is a cache hit (no rebuild, same object)
    assert suite._doc_table(spark, "/root/testdata/sf0.01") is a
    suite.clear_doc_cache()
    assert len(suite._DOC_CACHE) == 0


def test_salted_band_join_identical_to_plain_join(spark, docs_pdf):
    """_salted_band_join with a cap small enough to salt EVERY bucket
    must return exactly the rows of the plain equi-join (salting is a
    physical rewrite, never a semantic one)."""
    from pyspark.sql import functions as F

    bands = dedup.minhash_band_keys(docs_pdf).select("doc_id", "band_key")
    l = bands.select(F.col("doc_id").alias("doc_a"), "band_key")
    r = bands.select(F.col("doc_id").alias("doc_b"), "band_key")
    plain = (
        l.join(r, "band_key")
        .select("doc_a", "doc_b")
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    salted = (
        dedup._salted_band_join(l, r, ["band_key"], cap=3)
        .select("doc_a", "doc_b")
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    assert len(plain) == len(salted)
    assert plain.equals(salted)


def test_lsh_pairs_match_before_and_after_salting_threshold(spark, docs_pdf):
    """End-to-end: minhash_lsh_pairs under a tiny salting cap equals the
    default-cap result (every candidate pair survives the rewrite)."""
    import pandas as pd

    want = (
        dedup.minhash_lsh_pairs(docs_pdf, threshold=0.5)
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    orig = dedup._PAIR_TASK_CAP
    try:
        dedup._PAIR_TASK_CAP = 5
        got = (
            dedup.minhash_lsh_pairs(docs_pdf, threshold=0.5)
            .toPandas()
            .sort_values(["doc_a", "doc_b"], ignore_index=True)
        )
    finally:
        dedup._PAIR_TASK_CAP = orig
    pd.testing.assert_frame_equal(want, got)


def test_salted_band_join_skips_salting_when_no_hot_keys(spark, docs_pdf):
    """With the default cap no sandbox bucket is hot, so the eager
    hot-key probe must route to the plain equi-join plan (no salt
    column, no explode) while returning exactly the plain-join rows —
    the conditional rewrite is free when there is nothing to salt."""
    from pyspark.sql import functions as F

    bands = dedup.minhash_band_keys(docs_pdf).select("doc_id", "band_key")
    l = bands.select(F.col("doc_id").alias("doc_a"), "band_key")
    r = bands.select(F.col("doc_id").alias("doc_b"), "band_key")
    joined = dedup._salted_band_join(l, r, ["band_key"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # no salt column anywhere (the band-key INPUT legitimately contains
    # a posexplode; only the rewrite's salt/sequence machinery is out)
    assert "_salt" not in plan
    plain = (
        l.join(r, "band_key")
        .select("doc_a", "doc_b")
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    got = (
        joined.select("doc_a", "doc_b")
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    assert plain.equals(got)


def test_verify_jaccard_prefetch_sizes_identical(spark, docs_pdf):
    """The sizes-first verify (int-only prune exchanges before any
    array fetch — the disk-bounded path dedup_components uses at
    threshold 0.8) must return exactly the rows of the default
    arrays-aboard verify at every threshold: the rewrite moves the
    prune, never the semantics."""
    import pandas as pd

    for thr in (0.5, 0.8):
        frames = [
            dedup.minhash_lsh_pairs(
                docs_pdf, threshold=thr, prefetch_sizes=pf
            )
            .toPandas()
            .sort_values(["doc_a", "doc_b"], ignore_index=True)
            for pf in (False, True)
        ]
        pd.testing.assert_frame_equal(frames[0], frames[1])


def test_component_candidate_gate_refuses_before_generating(spark, docs_pdf):
    """dedup_components' candidate gate: with the cap forced tiny the
    call must raise BEFORE any pair row is generated (the exact total
    comes from the already-computed per-key count aggs), naming the
    scale paths, and without leaving a cached frame behind; with the
    default cap the sandbox corpus passes."""
    import pytest

    # start from an empty cache: frames that earlier calls left cached
    # (the success path still leaks) would be shared with, and so
    # unpersisted by, the refused call
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="incremental_near_dup"):
        dedup.dedup_components(docs_pdf, max_candidate_pairs=10)
    assert jsc.getPersistentRDDs().size() == before
    # default cap: unaffected (result identical to ungated)
    a = (
        dedup.dedup_components(docs_pdf)
        .toPandas().sort_values("doc_id", ignore_index=True)
    )
    b = (
        dedup.dedup_components(docs_pdf, max_candidate_pairs=None)
        .toPandas().sort_values("doc_id", ignore_index=True)
    )
    assert a.equals(b)


def test_ivf_recall_audit_leaves_no_cached_frame(spark):
    """ivf_recall_audit caches its two exact twins while it measures;
    both must be released by the time it returns, and the result must
    still hold one row per (family, probe level). Compared by RDD id,
    not by count: RDDs that earlier tests left persisted may be
    released (garbage-collected) while the call runs."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    rng = np.random.default_rng(7)
    e = spark.createDataFrame(
        [(i, rng.standard_normal(16).tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    before = set(jsc.getPersistentRDDs().keys())
    out = ann.ivf_recall_audit(
        e, probe_levels=(1, 8), centroid_ids=list(range(10, 18))
    ).toPandas()
    assert set(jsc.getPersistentRDDs().keys()) <= before
    assert sorted(zip(out["family"], out["n_probe"])) == [
        ("graph", 1), ("graph", 8), ("topk", 1), ("topk", 8)
    ]
