"""BM25 scoring + top-k: the exhaustive (oracle-grade) query path.

Implements Okapi BM25 exactly as OpenSearch 1.2.4 / Lucene 8 defaults
(the similarity mario's config contractually relies on — every
`"type":"text"` field in /root/reference/config/es_record_mappings.json):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = tf * (k1+1) / (tf + k1 * (1 - b + b * len/avgdl))
    score   = sum_t idf(t) * w(t, d)        k1=1.2, b=0.75

The similarity is fixed, as an OpenSearch mapping fixes it: K1 and B
below are the one setting, and bm25_idf / bm25_contrib (Columns) and
bm25_contrib_np (the per-bucket kernels) are the one definition every
operator scores with. No search function takes per-call k1/b; only
bm25_scores takes `b`, for the norms=false mapping (b = 0). The DuckDB
oracles restate the formula on purpose: they are the independent
reference.

This module is pure DataFrame ops — Catalyst plans it; the candidate set
is pruned by a broadcast semi-join on the (small) query-term table before
any per-doc work, so at 100TB only postings rows for queried terms ever
leave the scan (predicate pushdown on `term`).

Ranking determinism: ranks are assigned on round(score, 4) DESC,
doc_id ASC. Rounding makes ranking robust to float summation-order
differences between engines (Spark agg vs DuckDB vs pandas), which is
what lets the driver's value-hash comparison pass bit-for-bit.

The compressed-postings fast path (block-max WAND) lives in
mario_spark.wand; tests assert it is rank-identical to this scorer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mario_spark.session import local_frame

K1 = 1.2
B = 0.75
SCORE_DECIMALS = 4
RESULT_SCHEMA = "query_id long, rank long, doc_id long, score double"


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bm25_idf(n, df) -> Column:
    """idf(t) as a Column; `n` (doc count) and `df` are Columns or
    column names."""
    n, df = _col(n), _col(df)
    return F.log(F.lit(1.0) + (n - df + 0.5) / (df + 0.5))


def bm25_contrib(weight, tf, dl, avgdl, b: float = B) -> Column:
    """weight * w(t, d) as a Column: the saturated term frequency
    scaled by `weight` (an idf, a phrase's idf sum, or boost * idf).
    Arguments are Columns or column names; avgdl may be a float. Only
    bm25_scores passes `b` (0 for the norms=false mapping)."""
    weight, tf, dl, avgdl = (_col(c) for c in (weight, tf, dl, avgdl))
    return weight * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - b + b * dl / avgdl))


def bm25_contrib_np(weight, tf, dl, avgdl):
    """bm25_contrib over numpy arrays, in the kernels' operation order
    (weight * tf first); a different order would change the last bit
    of some scores."""
    return weight * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def term_frequencies(docs: DataFrame) -> DataFrame:
    """docs(doc_id, tf_map, len) -> tf(doc_id, term, tf, len).

    The doc table's tf_map is already per-doc aggregated (fused
    tokenize+count UDF), so this is a pure JVM-side map explode —
    NO shuffle. `len` rides along so the query path never needs a join
    back to the doc table (Lucene stores norms with postings for the
    same reason). Falls back to explode+hash-agg for a raw `tokens`
    array column.
    """
    if "pos_map" in docs.columns:
        # positional doc table: tf = positions count; the positions
        # column rides along so the encoder emits the poss stream
        return docs.select(
            "doc_id", "len", F.explode("pos_map").alias("term", "positions")
        ).select(
            "doc_id",
            "term",
            F.size("positions").cast("double").alias("tf"),
            "len",
            "positions",
        )
    if "tf_map" in docs.columns:
        return docs.select(
            "doc_id", "len", F.explode("tf_map").alias("term", "tf")
        ).withColumn("tf", F.col("tf").cast("double"))
    return (
        docs.select("doc_id", "len", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term", "len")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """tf -> df(term, df) — document frequency per term."""
    return tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))


def bm25_scores(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    query_terms: DataFrame,
    b: float = B,
) -> DataFrame:
    """-> (query_id, doc_id, score). Disjunctive (OR) semantics. `b`
    is the length-normalization weight (0 for a norms=false field).

    Plan shape (scale-critical):
      query_terms (tiny, broadcast) ⋈ dfreq -> per-term idf (tiny, broadcast)
      ⋈ tf on term  -> candidates only for queried terms
      cross-join 1-row stats (broadcast)
      groupBy(query_id, doc_id) partial+final sum.
    """
    q_idf = (
        query_terms.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "term", "idf", "avgdl")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl", b),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return scored


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """-> (query_id, rank, doc_id, score) with deterministic tie-breaks.

    Window is partitioned by query_id (parallel across queries; never a
    global sort). Rank on rounded score DESC, doc_id ASC.
    """
    s = scored.withColumn("score", F.round("score", SCORE_DECIMALS))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def empty_result(spark: SparkSession) -> DataFrame:
    """topk's output shape with no rows, for a search that matches
    nothing before any scan; collecting it runs no Spark job."""
    return local_frame(spark, [], RESULT_SCHEMA)


def search_filtered(
    docs: DataFrame,
    query_terms: DataFrame,
    filter_docs: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES bool {must: match, filter: ...}: the filter restricts which
    docs can appear in the result but does NOT change scoring stats —
    idf/avgdl stay index-wide, exactly as in ES/Lucene where filter
    context never touches the similarity. `filter_docs` is a (doc_id)
    DataFrame (any keyword/range/geo predicate reduced to doc ids).

    Plan shape: the filter applies as a semi join on doc_id AFTER the
    per-(query, doc) aggregation and BEFORE ranking, so the rank window
    sees only filtered docs. At scale the semi join is broadcastable
    when the filter is selective; otherwise it shuffles on doc_id —
    never on text.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = bm25_scores(tf, dfreq, stats, query_terms).join(
        filter_docs.select("doc_id").distinct(), "doc_id", "leftsemi"
    )
    return topk(scored, k)


def search_function_score(
    docs: DataFrame,
    query_terms: DataFrame,
    boosts: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES function_score (boost_mode=multiply): final score =
    BM25 * per-doc boost. `boosts` is (doc_id, boost double) — e.g. a
    recency decay exp(-ln2 * age/scale). The boost joins on doc_id
    after aggregation (one hash join, broadcast-able if the boost is an
    expression over a dim table; here it is computed per doc).
    Ranking/rounding conventions identical to topk()."""
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = (
        bm25_scores(tf, dfreq, stats, query_terms)
        .join(boosts, "doc_id")
        .withColumn("score", F.col("score") * F.col("boost"))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def more_like_this(
    docs: DataFrame,
    seed_doc_ids: list[int],
    max_query_terms: int = 5,
    k: int = 10,
) -> DataFrame:
    """ES more_like_this: for each seed doc, select its
    `max_query_terms` highest tf*idf terms (the interesting-terms
    heuristic MLT uses), then run a standard BM25 OR query with them,
    excluding the seed doc itself. Returns (query_id=seed doc_id, rank,
    doc_id, score).

    Term selection ranks on round(tf*idf, 6) DESC, term ASC — the
    rounding keeps selection deterministic across engines (same
    convention as score ranking). Seeds are a tiny driver-side list;
    everything else is the shared scoring pipeline."""
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    seed_tf = tf.filter(F.col("doc_id").isin([int(s) for s in seed_doc_ids]))
    weighted = (
        seed_tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.round(
                F.col("tf")
                * bm25_idf("n_docs", "df"),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    query_terms = (
        weighted.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= max_query_terms)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    scored = bm25_scores(tf, dfreq, stats, query_terms).filter(
        F.col("doc_id") != F.col("query_id")
    )
    return topk(scored, k)


def search_synonyms(
    docs: DataFrame,
    query_terms: DataFrame,
    synonyms: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """ES query-time synonym expansion with Lucene SynonymQuery
    scoring: each query term and its synonyms form ONE group scored as
    a single pseudo-term — tf = Σ tf over group members present in the
    doc, df = MAX df among members (SynonymQuery.docFreq), idf from
    that df. Groups then sum like ordinary BM25 terms. This is exactly
    how a synonym_graph token filter scores at query time (synonyms
    never inflate idf the way a naive OR expansion would).

    The expansion dim is tiny (queries x group sizes) and broadcasts;
    the group aggregation rides the same (query, doc) shuffle as plain
    BM25 — one extra map-side groupBy on (query, group, doc)."""
    from mario_spark.docs import corpus_stats

    spark = docs.sparkSession
    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    rows = []
    for r in query_terms.collect():  # tiny driver-side query table
        t = r["term"]
        for m in dict.fromkeys([t, *synonyms.get(t, [])]):
            rows.append((int(r["query_id"]), t, m))
    exp = local_frame(
        spark, rows, "query_id long, gterm string, term string"
    )
    g_idf = (
        exp.join(dfreq, "term")
        .groupBy("query_id", "gterm")
        .agg(F.max("df").alias("df"))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "gterm", "idf", "avgdl")
    )
    grouped = (
        tf.join(F.broadcast(exp), "term")
        .groupBy("query_id", "gterm", "doc_id")
        .agg(F.sum("tf").alias("gtf"), F.min("len").alias("len"))
    )
    scored = (
        grouped.join(F.broadcast(g_idf), ["query_id", "gterm"])
        .withColumn(
            "contrib",
            bm25_contrib("idf", "gtf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k)


def search_rescore(
    docs: DataFrame,
    query_terms: DataFrame,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 10,
) -> DataFrame:
    """ES rescore: re-rank the top `window_size` first-pass docs with
    final = query_weight * BM25_or + rescore_weight * BM25_rescore,
    where the rescore query is the CONJUNCTIVE form of the same terms
    (a doc matching every term rescores with its full BM25; partial
    matches rescore 0 — ES semantics when the rescore query misses).

    First-pass rank uses round(score,4) DESC, doc_id ASC (the engine's
    determinism convention), so the rescored window is identical across
    engines. The whole thing is ONE extra rank window over the already-
    aggregated (query, doc) scores — no second scan of the corpus."""
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    q_idf = (
        query_terms.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "term", "idf", "avgdl")
    )
    qn = query_terms.groupBy("query_id").agg(
        F.countDistinct("term").alias("qn")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("or_score"),
            F.countDistinct("term").alias("nt"),
        )
        .join(F.broadcast(qn), "query_id")
    )
    wfirst = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("or_score", SCORE_DECIMALS)), F.asc("doc_id")
    )
    windowed = scored.withColumn(
        "first_rank", F.row_number().over(wfirst)
    ).filter(F.col("first_rank") <= window_size)
    final = windowed.withColumn(
        "score",
        F.round(
            query_weight * F.col("or_score")
            + rescore_weight
            * F.when(F.col("nt") == F.col("qn"), F.col("or_score")).otherwise(0.0),
            SCORE_DECIMALS,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        final.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def search_boosting(
    docs: DataFrame,
    query_terms: DataFrame,
    negative_terms: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES boosting query: positive = the BM25 OR match; docs that also
    match ANY negative term keep their positive score DEMOTED by
    `negative_boost` (they still match — unlike must_not). The negative
    doc set reduces to a distinct doc_id frame (term-pruned at the
    scan) and broadcast-joins the scored frame: at 100TB the negative
    set is postings-of-one-term-sized, tiny next to the corpus."""
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = bm25_scores(tf, dfreq, stats, query_terms)
    neg = (
        tf.filter(F.col("term").isin(negative_terms))
        .select("doc_id")
        .distinct()
        .withColumn("is_neg", F.lit(1))
    )
    demoted = scored.join(F.broadcast(neg), "doc_id", "left").withColumn(
        "score",
        F.when(F.col("is_neg").isNotNull(), F.col("score") * negative_boost)
        .otherwise(F.col("score")),
    )
    return topk(demoted.select("query_id", "doc_id", "score"), k)


def explain_scores(
    docs: DataFrame, query_terms: DataFrame
) -> DataFrame:
    """ES explain API: the per-term BM25 breakdown for each query's
    TOP-1 document — (query_id, doc_id, term, tf, df, idf, contrib),
    the exact numbers ES's `"explanation"` tree carries (idf and the tf
    saturation product). The top-1 doc is found by the standard rank
    window; its contribution rows are then kept by a broadcast
    semi-join — no second scoring pass."""
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    contribs = (
        tf.join(F.broadcast(query_terms), "term")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
    )
    total = contribs.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", SCORE_DECIMALS)), F.asc("doc_id")
    )
    top1 = (
        total.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("query_id", "doc_id")
    )
    return contribs.join(F.broadcast(top1), ["query_id", "doc_id"]).select(
        "query_id",
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("idf", 6).alias("idf"),
        F.round("contrib", 4).alias("contrib"),
    )


def search_boosted_terms(
    docs: DataFrame,
    boosted_terms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES per-clause boost: a bool.should of term clauses each carrying
    its own `boost` — Lucene wraps the TermQuery in a BoostQuery, which
    multiplies that clause's score contribution (idf * saturated tf)
    without touching any other clause or the collection stats.

    boosted_terms: (query_id, term, boost double). Identical plan shape
    to bm25_scores — the boost rides the tiny broadcast query side, so
    the cost at scale is exactly a plain OR query's.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    q_idf = (
        boosted_terms.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "term", "idf", "boost", "avgdl")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib(F.col("boost") * F.col("idf"), "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k)


def search_exhaustive(
    docs: DataFrame, query_terms: DataFrame, k: int = 10, conjunctive: bool = False
) -> DataFrame:
    """End-to-end exhaustive BM25 top-k from a tokenized doc table.

    conjunctive=True gives ES bool-must semantics (a doc must contain
    EVERY query term; still BM25-summed and ranked identically) — the
    filter is a HAVING count(distinct matched term) == |query| on the
    same aggregation, so it adds no extra shuffle.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    if not conjunctive:
        return topk(bm25_scores(tf, dfreq, stats, query_terms), k)
    q_idf = (
        query_terms.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "term", "idf", "avgdl")
    )
    qn = query_terms.groupBy("query_id").agg(
        F.countDistinct("term").alias("qn")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.countDistinct("term").alias("nt"),
        )
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("nt") == F.col("qn"))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def search_pinned(
    docs: DataFrame,
    query_terms: DataFrame,
    pins: list[tuple[int, list[int]]],
    k: int = 10,
) -> DataFrame:
    """ES pinned query: per-query promoted doc ids rank FIRST, in the
    order given, ahead of every organic match; organic results follow
    with the pinned ids excluded, and pins count toward `k` (ES
    `size`). Pinned docs surface even when they don't match the text
    query at all, exactly as in ES. ES implements the promotion with
    synthetic float scores above any achievable BM25 score; here the
    rank is assigned structurally and the reported score is the doc's
    organic (rounded) BM25 score, 0.0 for a non-matching pin —
    deterministic and more informative than ES's sentinels.

    `pins` = [(query_id, [doc_id, ...])] — a tiny literal dim.
    Plan shape: pins broadcast into one left-semi (pin score lookup,
    prunes the scored frame to <= |pins| rows before the tiny driver
    join) and one left-anti (organic exclusion); organic ranks from a
    per-query window, never a global sort.
    """
    from mario_spark.docs import corpus_stats

    spark = docs.sparkSession
    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = bm25_scores(tf, dfreq, stats, query_terms).withColumn(
        "score", F.round("score", SCORE_DECIMALS)
    )
    pin_df = local_frame(
        spark,
        [
            (qid, int(did), i + 1)
            for qid, ids in pins
            for i, did in enumerate(ids)
        ],
        "query_id long, doc_id long, pin_ord long",
    )
    offs = local_frame(
        spark,
        [(qid, len(ids)) for qid, ids in pins],
        "query_id long, n_pins long",
    )
    # pin score lookup: semi-prune the big scored frame to pinned rows
    # (broadcast-able), then left-join the tiny pin dim onto the result
    pin_scores = scored.join(
        F.broadcast(pin_df.select("query_id", "doc_id")),
        ["query_id", "doc_id"],
        "leftsemi",
    )
    pinned = (
        pin_df.join(pin_scores, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            F.col("pin_ord").alias("rank"),
            "doc_id",
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    organic = (
        scored.join(F.broadcast(pin_df), ["query_id", "doc_id"], "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(offs), "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_pins", F.lit(0)) + F.col("rn"))
            .cast("long")
            .alias("rank"),
            "doc_id",
            "score",
        )
    )
    return pinned.unionByName(organic).filter(F.col("rank") <= k)


def search_rank_feature(
    docs: DataFrame,
    query_terms: DataFrame,
    features: DataFrame,
    k: int = 10,
    boost: float = 2.0,
    pivot: float = 200.0,
    function: str = "saturation",
    exponent: float = 0.6,
    scaling_factor: float = 1.0,
) -> DataFrame:
    """ES bool {must: match, should: rank_feature}: final score =
    BM25 + boost * fn(f), with ES's three rank_feature functions:

      saturation  f / (f + pivot)                    (the default)
      log         ln(scaling_factor + f)
      sigmoid     f^exp / (f^exp + pivot^exp)

    `features` is (doc_id, feature double): pagerank, url_length,
    recency-derived numbers — any static per-doc signal. The clause
    is a should: it boosts matching docs, never selects new ones; a
    doc with no feature row contributes 0 (ES skips the clause).

    Join shape = function_score's: one doc_id hash join AFTER the
    per-(query, doc) aggregation, broadcast-able when the feature
    table is a dim; never touches scoring stats.
    """
    from mario_spark.docs import corpus_stats

    f = F.col("feature")
    if function == "saturation":
        fn = f / (f + F.lit(pivot))
    elif function == "log":
        fn = F.log(F.lit(scaling_factor) + f)
    elif function == "sigmoid":
        fn = F.pow(f, exponent) / (
            F.pow(f, exponent) + F.lit(float(pivot) ** exponent)
        )
    else:
        raise ValueError(
            f"function must be saturation|log|sigmoid, got {function!r}"
        )
    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = (
        bm25_scores(tf, dfreq, stats, query_terms)
        .join(features, "doc_id", "left")
        .withColumn(
            "score",
            F.col("score")
            + F.when(f.isNotNull(), boost * fn).otherwise(F.lit(0.0)),
        )
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def search_terms_set(
    docs: DataFrame,
    qsets: list[tuple[int, list[str], int]],
    k: int = 10,
) -> DataFrame:
    """ES terms_set query: a doc matches when it contains at least
    `minimum_should_match` of the query's terms (ES drives the minimum
    from a doc field or script; a per-query constant covers the API's
    observable semantics), scored as the BM25 sum over the terms it
    DOES contain — exactly a bool.should with min_should_match=m.

    `qsets` = [(query_id, [terms], m)]. OOV terms can never count
    toward m (they match no doc), so a query whose satisfiable term
    count is below m returns empty — same as ES.

    Plan shape = the conjunctive path of search_exhaustive with == m
    relaxed to >= m: ONE broadcast of the tiny (query, term, idf, m)
    dim onto tf, one (query, doc) hash agg carrying both the score sum
    and the matched-term count, filter, per-query window top-k. The
    min_match threshold rides the broadcast dim — no extra join or
    shuffle versus plain BM25.
    """
    from mario_spark.docs import corpus_stats

    spark = docs.sparkSession
    q = local_frame(
        spark,
        [
            (qid, t, int(m))
            for qid, terms, m in qsets
            for t in dict.fromkeys(terms)
        ],
        "query_id long, term string, min_match long",
    )
    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    q_idf = (
        q.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "df"),
        )
        .select("query_id", "term", "idf", "avgdl", "min_match")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.countDistinct("term").alias("nt"),
            F.max("min_match").alias("m"),
        )
        .filter(F.col("nt") >= F.col("m"))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def search_distance_feature(
    docs: DataFrame,
    query_terms: DataFrame,
    values: DataFrame,
    origin: float,
    pivot: float,
    k: int = 10,
    boost: float = 2.0,
) -> DataFrame:
    """ES bool {must: match, should: distance_feature}: final score =
    BM25 + boost * pivot / (pivot + |value - origin|) — the reciprocal
    decay ES uses for both its date and geo variants (for geo, `value`
    is a precomputed distance and origin=0; the kernel is identical).
    `values` is (doc_id, value double) — a date epoch-day, recency
    counter, or distance. Like rank_feature it is a should clause: it
    reorders matching docs toward the origin, never selects new ones,
    and a doc with no value row gets +0 (ES skips docs missing the
    field).

    Join shape: one doc_id hash join AFTER the per-(query, doc) BM25
    aggregation — the decay math is pure codegen on the joined column.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = (
        bm25_scores(tf, dfreq, stats, query_terms)
        .join(values, "doc_id", "left")
        .withColumn(
            "score",
            F.col("score")
            + F.when(
                F.col("value").isNotNull(),
                F.lit(boost) * F.lit(pivot)
                / (F.lit(pivot) + F.abs(F.col("value") - F.lit(origin))),
            ).otherwise(F.lit(0.0)),
        )
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def percolate(
    docs: DataFrame, stored: list[tuple[int, list[str]]]
) -> DataFrame:
    """ES percolate query: the registry of STORED queries is matched in
    reverse against incoming documents — which saved searches / alerts
    fire for this doc. Each stored query is a bool.must of its terms
    (the registered-query shape mario's alerting tier would use); a doc
    matches when it contains every term. Returns (doc_id, query_id)
    match pairs.

    Plan shape: the stored-query registry is by definition small next
    to the document stream, so it broadcasts; matching is one hash agg
    over (doc, query) candidate rows — rows exist only for terms the
    doc actually contains, so the agg input is bounded by matched
    postings, not |docs| x |queries|. At 100TB this runs as a map-side
    join + partial agg over the incoming batch with zero shuffle of
    the corpus itself.
    """
    from mario_spark.analyze import py_tokenize

    spark = docs.sparkSession
    q = local_frame(
        spark,
        [
            (qid, t)
            for qid, qtext in stored
            for t in dict.fromkeys(py_tokenize(qtext))
        ],
        "query_id long, term string",
    )
    qn = q.groupBy("query_id").agg(F.countDistinct("term").alias("qn"))
    pres = term_frequencies(docs).select("doc_id", "term")
    return (
        pres.join(F.broadcast(q), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.countDistinct("term").alias("nt"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("nt") == F.col("qn"))
        .select("doc_id", "query_id")
    )


def search_bool_prefix(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """ES match_bool_prefix — the query the search_as_you_type field
    serves: the LAST token of the (partially typed) query is a prefix
    clause, everything before it is a regular BM25 term clause, all
    combined as bool.should. Lucene rewrites the prefix clause with
    CONSTANT_SCORE, so its contribution is +1.0 for any doc containing
    at least one term with that prefix; the full-term clauses score
    standard BM25. A doc matches if ANY clause matches.

    Plan shape: the full-term side is the standard broadcast-idf BM25
    agg; the prefix side is one startswith theta-join of the broadcast
    (query, prefix) dim against tf followed by a distinct — then a
    full-outer merge of the two tiny per-query frames. The startswith
    join is a broadcast nested loop over the tf stream (the same
    dictionary-walk shape as prefix expansion), never a cartesian of
    docs x docs.
    """
    from mario_spark.analyze import py_tokenize
    from mario_spark.docs import corpus_stats

    spark = docs.sparkSession
    full_rows, pref_rows = [], []
    for qid, qtext in queries:
        toks = py_tokenize(qtext)
        if not toks:
            continue
        for t in dict.fromkeys(toks[:-1]):
            full_rows.append((qid, t))
        pref_rows.append((qid, toks[-1]))
    tf = term_frequencies(docs)
    pref = local_frame(spark, pref_rows, "query_id long, prefix string")
    pmatch = (
        tf.join(F.broadcast(pref), F.col("term").startswith(F.col("prefix")))
        .select("query_id", "doc_id")
        .distinct()
        .withColumn("pscore", F.lit(1.0))
    )
    if full_rows:
        qterms = local_frame(spark, full_rows, "query_id long, term string")
        dfreq = doc_frequencies(tf)
        stats = corpus_stats(docs)
        lex = bm25_scores(tf, dfreq, stats, qterms)
        fused = lex.join(pmatch, ["query_id", "doc_id"], "full_outer")
    else:
        fused = pmatch.withColumn("score", F.lit(None).cast("double"))
    out = fused.withColumn(
        "score",
        F.coalesce("score", F.lit(0.0)) + F.coalesce("pscore", F.lit(0.0)),
    ).select("query_id", "doc_id", "score")
    return topk(out, k)


def search_script_score(
    docs: DataFrame,
    query_terms: DataFrame,
    features: DataFrame,
    script,
    k: int = 10,
) -> DataFrame:
    """ES script_score query: the final score is an arbitrary
    user expression over `_score` (the BM25 relevance) and per-doc
    field values. `script` is a callable (score_col, feature_col) ->
    Column — the Painless body re-expressed as a Catalyst expression,
    which is exactly what a scripted score compiles down to (pure
    codegen; no UDF). `features` is (doc_id, feature).

    Same join shape as rank_feature/function_score: one doc_id hash
    join AFTER the per-(query, doc) aggregation.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    scored = (
        bm25_scores(tf, dfreq, stats, query_terms)
        .join(features, "doc_id", "left")
        .withColumn("score", script(F.col("score"), F.col("feature")))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k)


def search_sparse_vector(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """ES sparse_vector query (the ELSER / learned-sparse-retrieval
    shape, rank_features under the hood): each doc carries a sparse
    term->weight map, the query a sparse set of terms, and the score
    is the dot product over the intersection. Here the doc weights are
    the classic log-saturated tf-idf

        w(t, d) = round(ln(1 + tf) * idf(t), 4)

    (a deterministic stand-in for model-emitted weights — the engine
    machinery is identical for real ELSER output: the weights are just
    a column), query weights 1.0. score = sum of matched doc weights.

    Plan shape: broadcast query terms onto the tf stream, one (query,
    doc) hash agg — the same single-shuffle skeleton as BM25, with NO
    length normalization or corpus stats at query time (weights are
    index-time), which is exactly why learned-sparse serves cheaply.
    """
    from mario_spark.docs import corpus_stats

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    weights = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.round(
                F.log(F.lit(1.0) + F.col("tf"))
                * bm25_idf("n_docs", "df"),
                4,
            ),
        )
        .select("doc_id", "term", "w")
    )
    scored = (
        weights.join(F.broadcast(query_terms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("score"))
    )
    return topk(scored, k)


def search_rerank(
    docs: DataFrame,
    documents_text: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    window: int = 20,
    model_fn=None,
) -> DataFrame:
    """ES text_similarity_reranker retriever: a first-stage BM25 rank
    window feeds (query_text, doc_text) pairs to a cross-encoder whose
    scores decide the final order. The model runs as an Arrow-batched
    mapInPandas kernel — exactly the batch-inference plumbing a real
    reranker (monoT5, bge-reranker, Cohere) plugs into; `model_fn`
    (pandas (qtext, text) -> float Series) swaps it in one argument.

    No model ships in this container, so the default is a
    DETERMINISTIC fake: score = first 13 md5 hex chars of
    "<qtext> | <text>" / 16^13 — uniform [0,1), reproducible in SQL,
    making the full pipeline (window join, batch shape, re-rank)
    oracle-verifiable end-to-end. The ranking it produces is
    arbitrary BY DESIGN — the test target is the plumbing, as with the
    multimodal decoder stub.
    """
    import numpy as np
    import pandas as pd

    from mario_spark.analyze import py_tokenize

    spark = docs.sparkSession
    qterms = local_frame(
        spark,
        [
            (qid, t)
            for qid, qtext in queries
            for t in dict.fromkeys(py_tokenize(qtext))
        ],
        "query_id long, term string",
    )
    first = search_exhaustive(docs, qterms, k=window).select(
        "query_id", "doc_id"
    )
    qtexts = local_frame(spark, queries, "query_id long, qtext string")
    pairs = first.join(
        documents_text.select("doc_id", "text"), "doc_id"
    ).join(F.broadcast(qtexts), "query_id")

    if model_fn is None:

        def model_fn(qt: pd.Series, tx: pd.Series) -> pd.Series:
            import hashlib

            vals = [
                int(
                    hashlib.md5(
                        f"{a} | {b}".encode("utf-8")
                    ).hexdigest()[:13],
                    16,
                )
                / float(16**13)
                for a, b in zip(qt, tx)
            ]
            return pd.Series(np.round(np.asarray(vals), 6))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "doc_id": pdf["doc_id"],
                    "rscore": model_fn(pdf["qtext"], pdf["text"]),
                }
            )

    scored = pairs.mapInPandas(
        kernel, "query_id long, doc_id long, rscore double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rscore"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.col("rscore").alias("score"))
    )
