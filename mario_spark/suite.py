"""Driver-contract query suite: Spark implementations.

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names/types match the DuckDB oracle in mario_spark.oracles exactly
(aliases + casts are deliberate — the driver hashes values after sorting
columns by name). Floating-point outputs are rounded (typically 4 dp)
on BOTH sides so summation-order differences between engines can't flip
the value hash; ranking uses rounded score + deterministic doc_id
tie-break for the same reason.

These are also the engine's public query API surface — bench.py and the
tests drive the same functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mario_spark import analyze, docs, query
from mario_spark.fixtures import DOCUMENTS_QUERY_SET, documents_as_pages, query_terms_df

STOPWORDS = ["the", "a"]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# the tokenized doc table is THE shared input of every exhaustive-path
# suite entry; one persisted build per (app, sf_dir) — pure caching,
# same contract as _WAND_CACHE below (a warm engine holds exactly this)
_DOC_CACHE: dict = {}


def _doc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DOC_CACHE:
        # Bounded cache: a long-lived session sweeping several scale
        # factors must not accumulate one persisted table per sf in
        # executor memory — evict (and unpersist) every other entry of
        # THIS application before building the new one. Cross-app keys
        # are dead weight only in the dict, never in executors.
        for old in [
            o for o in _DOC_CACHE
            if o[0] == key[0] and o != key
        ]:
            _DOC_CACHE.pop(old).unpersist()
        _DOC_CACHE[key] = docs.build_doc_table(
            documents_as_pages(spark, sf_dir)
        ).persist()
    return _DOC_CACHE[key]


def clear_doc_cache() -> None:
    """Unpersist and drop every cached doc table (bench-driver hook)."""
    while _DOC_CACHE:
        _DOC_CACHE.popitem()[1].unpersist()


# ------------------------------------------------------------- text / index
def doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 doc norms: token count per doc (pandas-UDF tokenizer path)."""
    return _doc_table(spark, sf_dir).select("doc_id", "len")


def term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per term (inverted-index dictionary stats)."""
    tf = query.term_frequencies(_doc_table(spark, sf_dir))
    return tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection stats feeding BM25: (n_docs, avgdl rounded 6dp)."""
    d = docs.corpus_stats(_doc_table(spark, sf_dir))
    return d.select("n_docs", F.round("avgdl", 6).alias("avgdl"))


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: BM25 top-10 per query of the fixed query set (OR semantics,
    k1=1.2 b=0.75, rank on rounded score desc, doc_id asc)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_exhaustive(d, q, k=10)


# one compressed-postings build shared by the WAND-served suite
# entries within a driver process (keyed per Spark app + sf_dir so
# results are identical to standalone builds — it is pure caching)
_WAND_CACHE: dict = {}


def _wand_index(spark: SparkSession, sf_dir: str):
    """The compressed (non-positional) index as one Snapshot: persisted
    postings and a TermStats opened over the persisted dictionary
    (TermStats.open: held in a driver dict at the suite's vocabulary
    sizes), so the term and multi-term entries read df, and expand
    patterns, with no Spark job."""
    from mario_spark import docs as docsmod
    from mario_spark.postings import build_postings
    from mario_spark.wand import (
        DF_LRU_MAX,
        VOCAB_CACHE_MAX,
        Snapshot,
        TermStats,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _WAND_CACHE:
        d = _doc_table(spark, sf_dir).persist()
        st = docsmod.corpus_stats(d).collect()[0]
        post, dic, _ = build_postings(d, st["n_docs"])
        post = post.persist()
        terms = TermStats.open(
            TermStats(lambda: dic), VOCAB_CACHE_MAX, DF_LRU_MAX,
            spark.sparkContext.defaultParallelism,
        )
        _WAND_CACHE[key] = Snapshot(post, terms, st["n_docs"], st["avgdl"])
    return _WAND_CACHE[key]


def bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as bm25_topk, served by the production path:
    compressed postings + block-max WAND (rank-identical by design;
    the driver verifies it against the same SQL oracle)."""
    return _wand_index(spark, sf_dir).search(DOCUMENTS_QUERY_SET, k=10)


def bm25_topk_wand_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filtered alias / bool filter context on the production WAND
    path: same query set, but docs must contain the filter term 'data'
    (unscored); dbuckets holding no 'data' posting are skipped before
    any block decode (wand._bucket_kernel)."""
    return _wand_index(spark, sf_dir).search(
        DOCUMENTS_QUERY_SET, k=10, filter_terms=["data"]
    )


def bm25_topk_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (ES bool-must) BM25 top-10 via the production WAND
    path: a doc must contain every query term; rarest-first sorted
    intersection per bucket."""
    return _wand_index(spark, sf_dir).search(
        DOCUMENTS_QUERY_SET, k=10, conjunctive=True
    )


def bm25_topk_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool must_not: same OR query set, but each query carries an
    exclusion list (DOCUMENTS_MUSTNOT_SET — filter context, no scoring);
    docs containing any excluded term never appear. The θ bootstrap
    masks excluded docs before taking the k-th partial, keeping
    block-max pruning sound (wand._bucket_kernel)."""
    from mario_spark.fixtures import DOCUMENTS_MUSTNOT_SET

    return _wand_index(spark, sf_dir).search(
        DOCUMENTS_QUERY_SET, k=10, must_not=DOCUMENTS_MUSTNOT_SET
    )


def bm25_topk_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES minimum_should_match=2 over the OR query set: a doc must
    match >= 2 distinct query terms (single-term queries match nothing,
    as in ES). Per-doc distinct-term counts fall out of the kernel's
    bincount groupby for free."""
    return _wand_index(spark, sf_dir).search(
        DOCUMENTS_QUERY_SET, k=10, min_should_match=2
    )


def fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match + fuzziness=1, prefix_length=1: each query term expands
    to dictionary terms within one classic-Levenshtein edit sharing the
    first character (a prefix-window walk of the held vocabulary —
    the analogue of Lucene's per-shard FST automaton walk), then the
    expansion is scored as a disjunction with per-variant idf
    (SCORING_BOOLEAN_REWRITE; Snapshot.search_multiterm). Unlike the
    pattern entries, each analyzed query token is one fuzzy term."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_SET, query_term_rows

    return _wand_index(spark, sf_dir).search_multiterm(
        query_term_rows(DOCUMENTS_FUZZY_SET), "fuzzy", k=10,
        max_edits=1, prefix_length=1,
    )


def fuzzy_damerau_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match + fuzziness=1 with transpositions=true — Lucene's
    ACTUAL default edit metric (adjacent transposition = 1 edit):
    OSA distance <= 1, the structure fuzzy.is_transposition tests on
    the held vocabulary (fuzzy.expand_terms is its Spark join).
    Classic fuzzy would miss queries 0-1 entirely."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_DAMERAU_SET, query_term_rows

    return _wand_index(spark, sf_dir).search_multiterm(
        query_term_rows(DOCUMENTS_FUZZY_DAMERAU_SET), "fuzzy", k=10,
        prefix_length=1, transpositions=True,
    )


def prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES prefix query (rewrite=scoring_boolean): a prefix window of
    the held vocabulary finds terms starting with the prefix; the
    expansion is scored as a disjunction with per-variant idf via the
    WAND kernel. Patterns are raw, not analyzed: a pattern is not a
    term."""
    from mario_spark.fixtures import DOCUMENTS_PREFIX_SET

    return _wand_index(spark, sf_dir).search_multiterm(
        DOCUMENTS_PREFIX_SET, "prefix", k=10
    )


def wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES wildcard query (whole-term * / ? patterns, incl. a leading
    wildcard), scored like prefix_topk."""
    from mario_spark.fixtures import DOCUMENTS_WILDCARD_SET

    return _wand_index(spark, sf_dir).search_multiterm(
        DOCUMENTS_WILDCARD_SET, "wildcard", k=10
    )


def fuzzy_blended_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene's default fuzzy rewrite (top_terms_blended_freqs /
    BlendedTermQuery): each query's expansion group scores with the
    group's MAX df, so typo variants can't out-idf the intended term;
    matched variants still sum."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_SET
    from mario_spark.fuzzy import search_fuzzy_blended

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_FUZZY_SET)
    return search_fuzzy_blended(d, q, max_edits=1, prefix_length=1, k=10)


def bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool {must: match, filter: term lang=en}: filter context
    restricts the result set but never the scoring stats (idf/avgdl
    stay index-wide, as in Lucene). Filter reduces to a doc_id set;
    semi join after aggregation, before ranking."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    flt = (
        _documents(spark, sf_dir)
        .filter(F.lower(F.col("lang")) == "en")
        .select("doc_id")
    )
    return query.search_filtered(d, q, flt, k=10)


def bm25_topk_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score boost_mode=multiply with an exp recency decay
    (scale=365d, decay=0.5): score = BM25 * exp(-ln2 * age/365).
    documents has no date column, so doc_date := 2020-01-01 +
    (doc_id % 1000) days (deterministic, oracle-identical); origin =
    2022-12-31."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    doc_date = F.date_add(
        F.lit("2020-01-01").cast("date"), (F.col("doc_id") % 1000).cast("int")
    )
    age = F.datediff(F.lit("2022-12-31").cast("date"), doc_date)
    boosts = _documents(spark, sf_dir).select(
        "doc_id",
        F.exp(F.lit(-0.6931471805599453 / 365.0) * age).alias("boost"),
    )
    return query.search_function_score(d, q, boosts, k=10)


# gauss decay variance: sigma'^2 = scale^2 / (2 * ln(1/decay)) with
# scale=365d, decay=0.5 (ES GaussDecayFunction). Shared with the oracle.
GAUSS_SIGMA2 = 365.0 * 365.0 / (2.0 * 0.6931471805599453)


def bm25_topk_gauss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score gauss date decay (origin=2022-12-31,
    scale=365d, decay=0.5, offset=0): boost = exp(-age^2 / (2*sigma'^2)),
    sigma'^2 = scale^2 / (2*ln(1/decay)). Same deterministic doc_date
    convention as bm25_topk_decay."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    doc_date = F.date_add(
        F.lit("2020-01-01").cast("date"), (F.col("doc_id") % 1000).cast("int")
    )
    age = F.abs(F.datediff(F.lit("2022-12-31").cast("date"), doc_date)).cast(
        "double"
    )
    boosts = _documents(spark, sf_dir).select(
        "doc_id",
        F.exp(-(age * age) / F.lit(2.0 * GAUSS_SIGMA2)).alias("boost"),
    )
    return query.search_function_score(d, q, boosts, k=10)


def bm25_topk_linear_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score linear date decay: boost =
    max(0, (s - age) / s) with s = scale / (1 - decay) = 730d — docs
    older than s score exactly 0 (they still MATCH; linear decay can
    zero a score, unlike gauss/exp, which is the ES-documented
    difference between the three kernels)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    doc_date = F.date_add(
        F.lit("2020-01-01").cast("date"), (F.col("doc_id") % 1000).cast("int")
    )
    age = F.abs(F.datediff(F.lit("2022-12-31").cast("date"), doc_date)).cast(
        "double"
    )
    s = F.lit(730.0)
    boosts = _documents(spark, sf_dir).select(
        "doc_id", F.greatest(F.lit(0.0), (s - age) / s).alias("boost")
    )
    return query.search_function_score(d, q, boosts, k=10)


def bm25_topk_fvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score field_value_factor (field=n_chars, factor=0.1,
    modifier=ln1p, missing=10): boost = ln(1 + 0.1 * n_chars) — the
    standard popularity/length boost; a broadcast-able per-doc
    expression, no extra scan."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    boosts = _documents(spark, sf_dir).select(
        "doc_id",
        F.log(
            F.lit(1.0)
            + F.lit(0.1) * F.coalesce(F.col("n_chars").cast("double"), F.lit(10.0))
        ).alias("boost"),
    )
    return query.search_function_score(d, q, boosts, k=10)


def bm25_topk_min_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES min_score: hits under the cutoff are excluded before
    pagination. Ranking is by score, so survivors are a prefix of each
    query's list and keep their ranks — a post-rank filter, no second
    scoring pass."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_exhaustive(d, q, k=10).filter(
        F.col("score") >= 0.5
    )


def bm25_topk_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool.should with per-clause boost (Lucene BoostQuery): each
    term clause's contribution multiplies by its own boost; stats stay
    index-wide."""
    from mario_spark.fixtures import DOCUMENTS_BOOSTED_SET

    d = _doc_table(spark, sf_dir)
    q = spark.createDataFrame(
        DOCUMENTS_BOOSTED_SET, "query_id long, term string, boost double"
    )
    return query.search_boosted_terms(d, q, k=10)


def bm25_topk_nonorms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `norms: false` on a text field: Lucene skips length
    normalization entirely — BM25 degenerates to b=0 (tf saturates but
    document length never discounts), the documented trade for fields
    like tags where length is meaningless."""
    from mario_spark.docs import corpus_stats

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    tf = query.term_frequencies(d)
    scored = query.bm25_scores(
        tf, query.doc_frequencies(tf), corpus_stats(d), q, b=0.0
    )
    return query.topk(scored, k=10)


MLT_SEED_DOCS = [0, 1, 2]


def more_like_this_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this: per seed doc, its top-5 tf*idf terms become a
    BM25 OR query excluding the seed itself; query_id = seed doc_id."""
    d = _doc_table(spark, sf_dir)
    return query.more_like_this(d, MLT_SEED_DOCS, max_query_terms=5, k=10)


def collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing (collapse: lang): only the best-scoring hit
    per (query, lang) survives, then the survivors re-rank to top-5.
    Both windows partition by query (and lang) — parallel, never a
    global sort."""
    from mario_spark.docs import corpus_stats

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    tf = query.term_frequencies(d)
    dfreq = query.doc_frequencies(tf)
    stats = corpus_stats(d)
    scored = query.bm25_scores(tf, dfreq, stats, q).withColumn(
        "score", F.round("score", 4)
    )
    langs = _documents(spark, sf_dir).select("doc_id", "lang")
    j = scored.join(langs, "doc_id")
    w1 = Window.partitionBy("query_id", "lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = j.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") == 1)
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        best.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "lang", "score")
    )


def collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES collapse + inner_hits: the top-5 collapsed groups per query
    (as collapse_topk) each carry their group's top-3 hits. The inner
    rank window partitions by (query, lang) — parallel; the surviving
    group list is 5 rows/query, so its join back broadcasts."""
    from mario_spark.docs import corpus_stats

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    tf = query.term_frequencies(d)
    dfreq = query.doc_frequencies(tf)
    stats = corpus_stats(d)
    scored = query.bm25_scores(tf, dfreq, stats, q).withColumn(
        "score", F.round("score", 4)
    )
    langs = _documents(spark, sf_dir).select("doc_id", "lang")
    j = scored.join(langs, "doc_id")
    w1 = Window.partitionBy("query_id", "lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = j.withColumn("inner_rank", F.row_number().over(w1))
    best = ranked.filter(F.col("inner_rank") == 1)
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    groups = (
        best.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "lang", "rank")
    )
    return (
        ranked.filter(F.col("inner_rank") <= 3)
        .join(F.broadcast(groups), ["query_id", "lang"])
        .select(
            "query_id",
            "rank",
            "lang",
            F.col("inner_rank").cast("long").alias("inner_rank"),
            "doc_id",
            "score",
        )
    )


def synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query-time synonyms with Lucene SynonymQuery scoring: each
    term + its synonyms score as one pseudo-term (tf summed over the
    group, df = max over members) — synonyms never inflate idf."""
    from mario_spark.fixtures import (
        DOCUMENTS_SYNONYM_QUERY_SET,
        DOCUMENTS_SYNONYMS,
    )

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_SYNONYM_QUERY_SET)
    return query.search_synonyms(d, q, DOCUMENTS_SYNONYMS, k=10)


def regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES regexp query (whole-term anchored match, Lucene RegexpQuery),
    expanded over the held vocabulary and scored like prefix_topk."""
    from mario_spark.fixtures import DOCUMENTS_REGEXP_SET

    return _wand_index(spark, sf_dir).search_multiterm(
        DOCUMENTS_REGEXP_SET, "regexp", k=10
    )


def bm25_topk_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped search (ES `title:` query): per-field inverted index
    via field-prefixed posting keys; BM25 uses the TITLE field's own
    df/n_docs/avgdl (Lucene per-field stats). documents has no separate
    title column, so title := first 64 chars of text (deterministic,
    oracle-identical); contents := full text is indexed alongside to
    prove coexistence in one postings table. Served by the suite's
    field-keyed positional Snapshot (_pos_index(fields=True)), which
    query_string_fields_topk shares."""
    return _pos_index(spark, sf_dir, fields=True).search(
        DOCUMENTS_QUERY_SET, k=10, field="title"
    )


# one positional-postings build shared by the phrase-served suite
# entries (same pure-caching contract as _WAND_CACHE)
_POS_CACHE: dict = {}


def _pos_index(spark: SparkSession, sf_dir: str, fields: bool = False):
    """The positional index as one Snapshot (phrase.positional_snapshot):
    persisted postings, a TermStats over the persisted (aggregated)
    dictionary, no tombstones. Its df LRU is shared by every positional
    operator. fields=True builds its field-keyed twin over (title,
    contents), as _field_docs derives them."""
    from mario_spark.phrase import positional_snapshot

    key = (spark.sparkContext.applicationId, sf_dir, fields)
    if key not in _POS_CACHE:
        d = _documents(spark, sf_dir).select("doc_id", "text")
        fx = None
        if fields:
            fx = {"title": F.substring("text", 1, 64), "contents": F.col("text")}
        _POS_CACHE[key] = positional_snapshot(d, fx)
    return _POS_CACHE[key]


# shared (title, contents) field doc table (same caching contract)
_FDOCS_CACHE: dict = {}


def _field_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark import fields as fieldsmod

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _FDOCS_CACHE:
        d = _documents(spark, sf_dir).select("doc_id", "text")
        _FDOCS_CACHE[key] = fieldsmod.build_field_doc_table(
            d, {"title": F.substring("text", 1, 64), "contents": F.col("text")}
        ).persist()
    return _FDOCS_CACHE[key]


def multifield_most_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match most_fields with boosts (title^2, contents^1):
    score = 2*BM25_title + 1*BM25_contents, each field scored with its
    own docCount/avgFieldLength/df (Lucene per-field stats)."""
    from mario_spark import fields as fieldsmod

    fdocs = _field_docs(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return fieldsmod.search_multi_field(
        fdocs, q, {"title": 2.0, "contents": 1.0}, k=10, combine="sum"
    )


def multifield_best_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match best_fields (dis_max, tie_breaker=0) with the
    same boosts: score = max(2*BM25_title, 1*BM25_contents)."""
    from mario_spark import fields as fieldsmod

    fdocs = _field_docs(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return fieldsmod.search_multi_field(
        fdocs, q, {"title": 2.0, "contents": 1.0}, k=10, combine="max"
    )


def dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES dis_max with tie_breaker=0.3 over (title^2, contents^1):
    score = best_field + 0.3 * (sum_others) — the best field dominates,
    the other field breaks ties (Lucene DisjunctionMaxQuery)."""
    from mario_spark import fields as fieldsmod

    fdocs = _field_docs(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return fieldsmod.search_multi_field(
        fdocs, q, {"title": 2.0, "contents": 1.0}, k=10,
        combine="dismax", tie_breaker=0.3,
    )


def boosting_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting query: positive = the OR query set, negative = term
    'merge', negative_boost = 0.5 — negative-matching docs keep HALF
    their positive score (demoted, not excluded; contrast must_not)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_boosting(d, q, ["merge"], negative_boost=0.5, k=10)


def explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES explain API: per-term BM25 breakdown (tf, df, idf, saturated
    contribution) for each query's top-1 document."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.explain_scores(d, q)


def phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase (slop=0) over positional postings: the parallel
    `poss` VByte stream stores 0-based token positions; a doc matches
    iff the phrase terms occur consecutively in order. Scored as one
    pseudo-term (Lucene PhraseWeight): idf = sum of member idfs,
    tf = phrase frequency."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    queries = [(qid, py_tokenize(q)) for qid, q in DOCUMENTS_PHRASE_SET]
    return ph.search_phrase(_pos_index(spark, sf_dir), queries, k=10)


def phrase_near_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity (ES span_near in_order=true, slop=2): bigram
    terms must occur in order within a window of 2+slop positions; ptf
    counts admitting starts (greedy minimal chain — see
    phrase._chain_match_count); scored like match_phrase."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_NEAR_SET

    queries = [(qid, py_tokenize(q)) for qid, q in DOCUMENTS_NEAR_SET]
    return ph.search_phrase(_pos_index(spark, sf_dir), queries, k=10, slop=2)


def phrase_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix: fixed phrase members followed by a
    prefix-expanded last position (<=50 alphabetically-first dictionary
    terms, Lucene MultiPhraseQuery), over positional postings."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_PHRASE_PREFIX_SET

    queries = []
    for qid, q in DOCUMENTS_PHRASE_PREFIX_SET:
        toks = py_tokenize(q)
        queries.append((qid, toks[:-1], toks[-1]))
    return ph.search_phrase_prefix(_pos_index(spark, sf_dir), queries, k=10)


def phrase_shingle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `index_phrases: true` fast path: 2-term match_phrase rewritten
    to a TermQuery on the word-2-shingle sub-field — no positions stream
    decoded at query time; scoring uses the shingle field's OWN stats
    (shingle df / docCount / avgFieldLength), which is exactly why ES
    documents index_phrases as same-matches-different-scores vs the
    positional path (tests assert the match-set identity)."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    bigrams = [
        (qid, t) for qid, t in DOCUMENTS_PHRASE_SET if len(t.split()) == 2
    ]
    return ph.search_phrase_shingle(_documents(spark, sf_dir), bigrams, k=10)


def synonym_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query-time synonym_graph with multi-word synonyms: each query
    expands to term OR "two word phrase"; paths become BooleanQuery
    SHOULD clauses and a doc's score is the sum of its matching clause
    scores (term = BM25, phrase = PhraseWeight) — Lucene's documented
    fallback for multi-token synonym paths."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import SYNONYM_GRAPH_SET

    return ph.search_synonym_graph(
        _documents(spark, sf_dir), SYNONYM_GRAPH_SET, k=10
    )


def keyword_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 keyword_no_trailing_punctuation analyzer (reference:
    /root/reference/config/es_record_mappings.json:5-22), applied to a
    synthesized keyword (first 20 chars of text + '.')."""
    d = _documents(spark, sf_dir)
    kw = F.concat(F.substring("text", 1, 20), F.lit("."))
    return d.select(
        "doc_id", analyze.normalize_keyword_expr(kw).alias("kw")
    )


def filter_lang_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 keyword exact-match + A8-style projection: Catalyst-native
    filter/select; predicate pushes to the parquet scan."""
    d = _documents(spark, sf_dir)
    return d.filter(F.lower(F.col("lang")) == "en").select(
        "doc_id", "source", "n_chars"
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (training-data pipeline op), fully JVM-side:
    runs [a-z]+|[0-9]+|punct over lowered text inside codegen."""
    d = _documents(spark, sf_dir)
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing check: opaque binary column + byte length
    (decode/feature-extract stubs live in mario_spark.ops.multimodal)."""
    d = _documents(spark, sf_dir)
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


# ------------------------------------------------------------------- dedup
def exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: total docs, distinct texts, duplicate docs."""
    d = _documents(spark, sf_dir)
    g = d.groupBy(F.md5(F.encode("text", "utf-8")).alias("h")).agg(
        F.count("*").alias("c")
    )
    return g.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
        .cast("long")
        .alias("n_dup"),
    )


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups: (text md5, group size, keeper = min doc_id).
    Hash-groupBy dedup — the 100TB-scale pattern (shuffle on 128-bit hash,
    never on the full text)."""
    d = _documents(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.encode("text", "utf-8")).alias("text_md5"))
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") > 1)
    )


# -------------------------------------------------------------- relational
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style agg (coverage for §2.3 aggregations): partial+final
    hash agg, predicate pushed to scan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style join (coverage for §2.3 joins): broadcast the
    filtered customer dim; sort-merge lineitem⋈orders; top-10 via
    rank on rounded revenue."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("o_orderstatus") != "F")
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    top = j.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "o_orderkey", "revenue"
    )


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation over the events stream
    table (1-hour windows per event_type): the batch expression of the
    engine's streaming-shaped workload. The same F.window + agg plan is
    what readStream would execute incrementally with a watermark —
    mario itself is finite-batch (SURVEY §2.3 Streaming), so batch
    semantics are the contract here."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the classic stateful streaming op,
    batch-expressed per SURVEY §2.3): per-user sessions split on
    >30-min inactivity gaps via lag + running sum — windows partition
    by user (parallel, never global). Timestamps compared as exact
    integer microseconds (unix_micros/epoch_us) so both engines split
    identically."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; cast under the pinned UTC session so
    # unix_micros compares exact integer microseconds
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = ts_us - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
    flag = F.when(
        gap_us.isNull() | (gap_us > 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = F.sum(flag).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_id", sess.cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end_ts"),
        )
    )


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions (§2.3): extract props.k from the JSON
    string column, filter, and aggregate per event_type."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def date_parse_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 multi-format date parse cascade (reference mapping
    es_record_mappings.json:121-127: strict_year||strict_year_month||date):
    orders dates re-rendered at 3 granularities by key, then parsed back
    via a try_to_timestamp coalesce ladder."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    parsed = F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(s, F.lit("yyyy-MM")),
        F.try_to_timestamp(s, F.lit("yyyy")),
    )
    return o.select(
        "o_orderkey",
        F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("parsed_ts"),
    )


def date_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 second half — date_range containment (ES range query with
    relation=intersects over a Range gt/gte/lt/lte struct, mapping
    es_record_mappings.json:115-118). Ranges are synthesized from
    orders at FOUR granularities (year / month / date / full ISO with a
    +02:00 zone offset) so the full date_optional_time cascade is
    exercised; match = range intersects [1995-06-01, 1995-07-15]."""
    from mario_spark import record

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    key = F.col("o_orderkey")
    gte = (
        F.when(key % 4 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(key % 4 == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .when(key % 4 == 2, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
                F.lit("+02:00"),
            )
        )
    )
    lte = F.date_format(
        F.date_add("o_orderdate", ((key % 60) + 1).cast("int")), "yyyy-MM-dd"
    )
    d = o.select("o_orderkey", gte.alias("gte_s"), lte.alias("lte_s"))
    none = F.lit(None).cast("string")
    pred = record.range_query_expr(
        none, F.col("gte_s"), none, F.col("lte_s"),
        "1995-06-01 00:00:00", "1995-07-15 23:59:59", "intersects",
    )
    return d.filter(pred).select(
        "o_orderkey",
        F.date_format(
            record.parse_date_expr("gte_s"), "yyyy-MM-dd HH:mm:ss"
        ).alias("lo_ts"),
        F.date_format(
            record.parse_date_expr("lte_s"), "yyyy-MM-dd HH:mm:ss"
        ).alias("hi_ts"),
    )


# ------------------------------------------------- training-pipeline ops
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import dedup

    return dedup.minhash_signatures(_documents(spark, sf_dir))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import dedup

    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir))


def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot near-dup dedup: documents split by source into an
    accepted corpus (src0-src9) and an incoming snapshot (src10-src19);
    snapshot docs colliding with the accepted corpus's persisted LSH
    band table in >= 1 band and verified at jaccard >= 0.5 are flagged
    (the rows a pipeline drops before appending the snapshot). Old-vs-
    old pairs are never generated (ops/dedup.incremental_near_dup)."""
    from mario_spark.ops import dedup

    d = _documents(spark, sf_dir)
    is_old = F.col("source").rlike("^src[0-9]$")
    return dedup.incremental_near_dup(
        d.filter(~is_old), d.filter(is_old)
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label propagation
    to fixpoint) over the verified minhash-LSH near-dup graph at
    jaccard >= 0.8; oracle = recursive transitive-closure CTE."""
    from mario_spark.ops import dedup

    return dedup.dedup_components(_documents(spark, sf_dir))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup with a QUALITY-aware representative: per duplicate
    cluster keep the highest-quality doc (quality desc, doc_id asc)
    instead of the arbitrary min-id — the rule real pipelines use
    (keep the cleanest copy). One comp-partitioned rank window
    (parallel across clusters) over components x quality."""
    from mario_spark.ops import dedup, textstats

    d = _documents(spark, sf_dir)
    comps = dedup.dedup_components(d)
    q = textstats.quality_score(d).select("doc_id", "quality")
    j = comps.join(q, "doc_id")
    w = Window.partitionBy("comp").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", "doc_id", "quality")
    )


def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import dedup

    return dedup.simhash64(_documents(spark, sf_dir))


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import dedup

    return dedup.simhash_pairs(_documents(spark, sf_dir))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import dedup

    return dedup.ngram_jaccard_pairs(_documents(spark, sf_dir))


def ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination (GPT-3/C4 protocol): training
    docs sharing any token 8-gram with the benchmark stand-in
    (doc_id % 10 == 7) are flagged with their overlap count."""
    from mario_spark.ops import dedup

    return dedup.ngram_decontaminate(_documents(spark, sf_dir))


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleanup cascade: lang filter + quality filter + exact
    dedup keepers + decontamination composed into one per-doc decision
    table (the keep/drop verdict an LLM-data pipeline feeds training)."""
    from mario_spark.ops import pipeline

    return pipeline.clean_corpus(_documents(spark, sf_dir))


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters over word n-grams: fraction of
    tokens in the most frequent bigram, fraction in duplicated
    trigrams, type-token ratio. Fused per-doc pandas UDF — no gram
    explode crosses a shuffle."""
    from mario_spark.ops import textstats

    return textstats.repetition_stats(_documents(spark, sf_dir))


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (Common-Crawl preprocessing): four
    dirty variants per base URL are synthesized deterministically
    (doc_id//4 groups: case-variant host, default port + trailing
    slash, utm/ref params + fragment); canonicalization maps all four
    to one key; keeper = min doc_id per canonical URL."""
    from mario_spark.ops import dedup

    d = _documents(spark, sf_dir).select("doc_id")
    base = F.floor(F.col("doc_id") / 4).cast("long")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.format_string("https://example.com/page/%d", base))
        .when(v == 1, F.format_string("HTTPS://EXAMPLE.COM/page/%d", base))
        .when(v == 2, F.format_string("https://example.com:443/page/%d/", base))
        .otherwise(
            F.format_string(
                "https://example.com/page/%d?utm_source=feed&ref=x#frag", base
            )
        )
    )
    return dedup.url_dedup(d.withColumn("url", url))


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (per-lang rates en=0.5,
    de=0.25, default 0.1): md5-hash Bernoulli coin, pure map-side
    filter — reproducible across runs and engines."""
    from mario_spark.ops import sample

    return sample.stratified_sample(
        _documents(spark, sf_dir), "lang", {"en": 0.5, "de": 0.25}, 0.1
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concat docs per shard in doc_id
    order, cut every 2048 BPE-ish tokens; one running-sum window per
    shard (parallel, never global)."""
    from mario_spark.ops import sample

    return sample.pack_sequences(
        _documents(spark, sf_dir), seq_len=2048, n_shards=8
    )


ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.brute_topk(e, ANN_QUERY_IDS, k=10)


def ann_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT / ES rank_vectors maxSim):
    docs are bags of token vectors (mdoc = vec_id // 4); score = sum
    over query tokens of the max cosine against the doc's tokens.
    Query tokens broadcast; corpus vectors scanned once."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.maxsim_topk(e, k=5)


def ann_bit_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES kNN over bit vectors (dense_vector element_type=bit, 8.14):
    sign-bit 64-bit signatures, exact hamming top-10 per query — 8
    bytes/vector scanned, popcount in codegen
    (ops/ann.bit_hamming_topk)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.bit_hamming_topk(e, ANN_QUERY_IDS, k=10)


def ann_bit_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bit-vector kNN + float rescore: hamming candidates (window
    30), exact-cosine final order (ops/ann.bit_rescore_topk)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.bit_rescore_topk(e, ANN_QUERY_IDS, k=10, window=30)


def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.lsh_nearest_pairs(e, top_pairs=20)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: sampled centroids, nearest-cell assignment,
    n_probe=2 probed cells per query, exact cosine within cells."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivf_topk(e, ANN_QUERY_IDS, k=10)


def knn_graph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine 5-NN graph over the embeddings table — one
    broadcast-matrix matmul per partition, local top-k per src, tiny
    per-src rank merge (ops/ann.knn_graph; the batch twin of an HNSW
    build, SURVEY §6 position note)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.knn_graph(e, k=5)


def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 5-NN graph via IVF cells (n_probe=2): every vector
    probes its 2 nearest sampled-centroid cells, candidates are cell
    members, per-cell local matmuls — the 10^9-vector shape of
    knn_graph_exact (ops/ann.knn_graph_ivf)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.knn_graph_ivf(e, k=5)


def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-quality audit (mirror of lsh_recall_audit): measured recall
    of knn_graph_ivf and ivf_topk vs their exact twins at n_probe in
    {1,2,4,8} — the recall/probe curve that picks the n_probe clearing
    a 0.9 floor (ops/ann.ivf_recall_audit)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivf_recall_audit(e)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import textstats

    return textstats.lang_id(_documents(spark, sf_dir))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import textstats

    return textstats.quality_score(_documents(spark, sf_dir))


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 Appendix A): the named
    7-rule document filter (word count, mean word length, symbol ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, stop-word
    hits) with per-rule signals and the keep verdict
    (ops/textstats.gopher_quality_filter)."""
    from mario_spark.ops import textstats

    return textstats.gopher_quality_filter(_documents(spark, sf_dir))


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import textstats

    return textstats.winnow_fingerprints(_documents(spark, sf_dir))


def geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 geo_point distance query. documents has no geo column, so a
    deterministic (lon, lat) is synthesized per doc_id (same arithmetic
    in the oracle); filter = within 5000 km of (0, 0)."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 360 - 180 + 0.5).cast("float"),
            ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float"),
        ).alias("geopoint"),
    )
    return geo.geo_distance_filter(d, "geopoint", 0.0, 0.0, 5000.0).select(
        "doc_id", "distance_km"
    )


def geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 geo_point bounding-box query: same synthesized (lon, lat) as
    geo_distance; box = lon in [-50, 50], lat in [-30, 30]. Pure
    comparisons — the predicate stays in codegen and would push to a
    scan over materialized lon/lat columns."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 360 - 180 + 0.5).cast("float"),
            ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float"),
        ).alias("geopoint"),
    )
    out = geo.geo_bbox_filter(d, "geopoint", -50.0, -30.0, 50.0, 30.0)
    return out.select(
        "doc_id",
        F.round(F.col("geopoint").getItem(0).cast("double"), 4).alias("lon"),
        F.round(F.col("geopoint").getItem(1).cast("double"), 4).alias("lat"),
    )


def completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 completion suggester: prefix dimension table over each doc's
    first token (keyword_no_trailing_punctuation-ish input), then top-5
    lookup for the typed prefix 'ha'."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").getItem(0).alias("v")
    )
    table = geo.build_completion_table(d, "v", "doc_id")
    return geo.suggest(table, "ha", k=5)


def completion_suggest_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester with fuzzy (fuzziness=1): typed 'hsh'
    still reaches 'hash...' completions; exact prefix matches rank
    before edit-1 matches."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").getItem(0).alias("v")
    )
    table = geo.build_completion_table(d, "v", "doc_id")
    return geo.suggest_fuzzy(table, "hsh", k=5)


def completion_suggest_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion context suggester (category contexts): completions
    for 'ha' restricted to lang contexts en (boost 2) and de (boost 1);
    score = best matching context's boost, ranked score desc then
    value/key (ops/geo.suggest_contexts)."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id", "lang", F.split(F.col("text"), " ").getItem(0).alias("v")
    )
    table = geo.build_completion_table(d, "v", "doc_id", context_col="lang")
    return geo.suggest_contexts(table, "ha", {"en": 2.0, "de": 1.0}, k=5)


def search_sorted_by_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sort-by-field (sort: n_chars desc, doc_id asc tiebreak — NOT
    by _score): docs containing 'join', top 10. Match reduces to a
    distinct doc_id set; the sort+limit plans as TakeOrderedAndProject."""
    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d)
    hits = tf.filter(F.col("term") == "join").select("doc_id").distinct()
    docs_df = _documents(spark, sf_dir).join(hits, "doc_id", "leftsemi")
    return (
        docs_df.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
    )


def bool_composed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ES bool composition: {must: match(query set), filter:
    range 200 <= n_chars < 2000, must_not: term lang=de}. Both filter
    and must_not live in filter context (doc-set reduction, no score
    effect); scoring stats stay index-wide."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    flt = (
        _documents(spark, sf_dir)
        .filter(
            (F.col("n_chars") >= 200)
            & (F.col("n_chars") < 2000)
            & (F.lower(F.col("lang")) != "de")
        )
        .select("doc_id")
    )
    return query.search_filtered(d, q, flt, k=10)


# ---------------------------------------------------- ES aggregations
def agg_stats_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms + stats sub-aggregation: per lang, the five algebraic
    stats over n_chars."""
    from mario_spark.ops import aggs

    return aggs.stats_agg(_documents(spark, sf_dir), "lang", "n_chars")


def agg_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram calendar_interval=month x event_type, with
    count + sum(value) sub-aggs."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.date_histogram(e, "ts", "event_type", "value", "month")


def agg_range_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES range aggregation over n_chars ([from, to) half-open), with
    an intentionally-empty tail bucket proving the empty-buckets-
    emitted contract."""
    from mario_spark.ops import aggs

    return aggs.range_agg(
        _documents(spark, sf_dir),
        "n_chars",
        [
            ("0-500", 0, 500),
            ("500-2000", 500, 2000),
            ("2000-1000000", 2000, 1_000_000),
            ("1000000-", 1_000_000, None),  # empty at every sf
        ],
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentiles aggregation (exact interpolated p50/p90/p99 of
    n_chars per lang)."""
    from mario_spark.ops import aggs

    return aggs.percentiles_agg(_documents(spark, sf_dir), "lang", "n_chars")


def agg_cardinality_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cardinality agg per event_type: deterministic KMV sketch
    (k=256) over user_id — engine-portable estimate, exact when the
    true cardinality is under k."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.cardinality_kmv(e, "event_type", "user_id", k=256)


def agg_terms_order_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms agg ordered by a sub-aggregation metric (order:
    {avg_chars: desc}, size 8): bucket ranking driven by the metric,
    not doc_count — one hash agg + TakeOrderedAndProject."""
    d = _documents(spark, sf_dir)
    g = d.groupBy(F.col("source").alias("key")).agg(
        F.count("*").cast("long").alias("doc_count"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    return g.orderBy(F.desc("avg_chars"), F.asc("key")).limit(8)


def agg_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms: terms overrepresented in the foreground
    (docs containing 'join') vs the whole corpus, scored by JLH =
    (fg% - bg%) * (fg% / bg%), top-10 by round(jlh, 6) desc / term asc,
    the query term itself excluded. Presence sets are doc-distinct;
    the foreground doc set semi-joins (broadcast-able — a result page
    at 100TB is tiny next to the corpus)."""
    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d)
    presence = tf.select("doc_id", "term").distinct()
    fg_docs = presence.filter(F.col("term") == "join").select("doc_id")
    n_fg = fg_docs.count()
    n_bg = d.count()
    fg = (
        presence.join(F.broadcast(fg_docs), "doc_id", "leftsemi")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("fg_df"))
    )
    bg = presence.groupBy("term").agg(
        F.count("*").cast("double").alias("bg_df")
    )
    j = fg.join(bg, "term").filter(F.col("term") != "join")
    fg_pct = F.col("fg_df") / float(n_fg)
    bg_pct = F.col("bg_df") / float(n_bg)
    out = j.select(
        "term",
        F.col("fg_df").cast("long").alias("fg_count"),
        F.col("bg_df").cast("long").alias("bg_count"),
        F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6).alias("jlh"),
    )
    return out.orderBy(F.desc("jlh"), F.asc("term")).limit(10)


def agg_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_text agg: significant_terms re-analyzing the text
    field with its filter_duplicate_text=true default — exact-duplicate
    texts count ONCE, the agg's guard against boilerplate skewing the
    statistics (the reference's delegated engine owns aggs; no mario
    file). Dedup keeps min doc_id per md5(text) — the shuffle carries
    the 128-bit digest, never full text (same 100TB shape as exact
    dedup); presence then semi-joins the survivor set. JLH scoring and
    ranking identical to agg_significant_terms."""
    raw = _documents(spark, sf_dir)
    keep = (
        raw.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    tf = query.term_frequencies(_doc_table(spark, sf_dir))
    presence = (
        tf.select("doc_id", "term").distinct().join(keep, "doc_id", "leftsemi")
    )
    fg_docs = presence.filter(F.col("term") == "join").select("doc_id")
    n_fg = fg_docs.count()
    n_bg = keep.count()
    fg = (
        presence.join(F.broadcast(fg_docs), "doc_id", "leftsemi")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("fg_df"))
    )
    bg = presence.groupBy("term").agg(
        F.count("*").cast("double").alias("bg_df")
    )
    j = fg.join(bg, "term").filter(F.col("term") != "join")
    fg_pct = F.col("fg_df") / float(n_fg)
    bg_pct = F.col("bg_df") / float(n_bg)
    out = j.select(
        "term",
        F.col("fg_df").cast("long").alias("fg_count"),
        F.col("bg_df").cast("long").alias("bg_count"),
        F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6).alias("jlh"),
    )
    return out.orderBy(F.desc("jlh"), F.asc("term")).limit(10)


def agg_variable_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES variable_width_histogram over n_chars: at most 8 variable-width
    clusters (deterministic largest-gap splits of the distinct value
    domain), each with min/max/centroid/doc_count."""
    from mario_spark.ops import aggs

    return aggs.variable_width_histogram(
        _documents(spark, sf_dir), "n_chars", buckets=8
    )


def agg_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_hits sub-aggregation: top-3 docs per lang by n_chars
    (doc_id tiebreak) — a per-bucket rank window, parallel across
    buckets."""
    from mario_spark.ops import aggs

    return aggs.top_hits_agg(
        _documents(spark, sf_dir), "lang", "n_chars", size=3
    )


def agg_composite_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite aggregation page: (lang, source) buckets ordered by
    key tuple, size=5, after-key cursor ('de', 'src3') — the cursor is
    a pushable predicate, so deep pages stay TakeOrderedAndProject."""
    from mario_spark.ops import aggs

    return aggs.composite_agg(
        _documents(spark, sf_dir),
        ["lang", "source"],
        size=5,
        after=("de", "src3"),
    )


def term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester ("did you mean"): top-3 dictionary corrections
    within 2 classic-Levenshtein edits per misspelled input, ranked by
    distance, then document frequency, then term."""
    from mario_spark import fuzzy
    from mario_spark.fixtures import DOCUMENTS_SUGGEST_SET

    d = _doc_table(spark, sf_dir)
    dfreq = query.doc_frequencies(query.term_frequencies(d))
    return fuzzy.suggest_terms(dfreq, DOCUMENTS_SUGGEST_SET, max_edits=2, size=3)


def term_suggest_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester, suggest_mode=missing (the ES default): only
    inputs ABSENT from the index get suggestions — 'part' is a real
    index term (no rows), 'sortt' is a typo (corrected)
    (fuzzy.suggest_terms(mode="missing"))."""
    from mario_spark import fuzzy

    d = _doc_table(spark, sf_dir)
    dfreq = query.doc_frequencies(query.term_frequencies(d))
    return fuzzy.suggest_terms(
        dfreq, ["part", "sortt"], max_edits=2, size=3, mode="missing"
    )


def terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _terms_enum API: up to 10 index terms starting with a prefix,
    lexicographic order, with doc frequencies — a pushdown-filtered
    dictionary scan + TakeOrderedAndProject (the dictionary is ~30x
    smaller than the tf stream, so this never touches postings)."""
    d = _doc_table(spark, sf_dir)
    dfreq = query.doc_frequencies(query.term_frequencies(d))
    return (
        dfreq.filter(F.col("term").startswith("s"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.asc("term"))
        .limit(10)
    )


def term_suggest_popular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term suggester suggest_mode=popular: only corrections MORE
    document-frequent than the input term surface (inputs here are real
    index terms, so the df gate visibly prunes)
    (fuzzy.suggest_terms(mode="popular"))."""
    from mario_spark import fuzzy

    d = _doc_table(spark, sf_dir)
    dfreq = query.doc_frequencies(query.term_frequencies(d))
    return fuzzy.suggest_terms(
        dfreq, ["part", "sort"], max_edits=2, size=3, mode="popular"
    )


def query_string_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query_string mini-language (bare=should, +must, -must_not,
    quotes=phrase) compiled onto BM25: Lucene BooleanQuery matching
    rules, every clause scored as a term/phrase chain (PhraseWeight),
    served from the shared positional index (Snapshot.search_query_string;
    see mario_spark.qs for the grammar and the clause form)."""
    from mario_spark.fixtures import DOCUMENTS_QS_SET

    return _pos_index(spark, sf_dir).search_query_string(
        DOCUMENTS_QS_SET, k=10
    )


def query_string_fields_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query_string with `field:` scoping (`title:hash join`,
    '+title:table contents:"sort merge"'): each field-scoped clause
    scores against THAT field's own stats (per-field df, docCount,
    avgFieldLength — Lucene per-field index semantics); unmapped-field
    clauses keep Lucene behavior (should contributes nothing, must
    empties the query). Same BooleanQuery matching as query_string_topk,
    served from the positional field index
    (Snapshot.search_query_string with default_field)."""
    from mario_spark.fixtures import DOCUMENTS_QSF_SET

    return _pos_index(spark, sf_dir, fields=True).search_query_string(
        DOCUMENTS_QSF_SET, k=10, default_field="contents"
    )


def span_near_unordered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered proximity (ES span_near in_order=false, slop=2): the
    pair matches within |pa - pb| <= slop+1 in EITHER direction —
    strictly more docs than the ordered phrase_near_topk on the same
    query set; an OOV member (query 5) empties the query
    (phrase.search_span_near_unordered)."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_NEAR_SET

    queries = [(qid, py_tokenize(q)) for qid, q in DOCUMENTS_NEAR_SET]
    return ph.search_span_near_unordered(
        _pos_index(spark, sf_dir), queries, slop=2, k=10
    )


def agg_histogram_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES histogram agg (interval=500, min_doc_count=0) over n_chars:
    empty buckets between the min and max observed keys are emitted
    (bucket spine broadcast-joined against the hash agg)."""
    from mario_spark.ops import aggs

    return aggs.histogram_agg(_documents(spark, sf_dir), "n_chars", 500)


def agg_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES extended_stats per lang over n_chars: count/min/max/avg/sum +
    sum_of_squares, population variance, std deviation — all algebraic
    moments, variance computed as ss/n - mean^2 on BOTH engines."""
    from mario_spark.ops import aggs

    return aggs.extended_stats_agg(_documents(spark, sf_dir), "lang", "n_chars")


def agg_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filters aggregation (+ the missing agg expressed as an isNull
    bucket): four named buckets counted in ONE conditional-sum pass,
    unpivoted to (key, doc_count) rows."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir)
    return aggs.filters_agg(
        d,
        [
            ("short", F.col("n_chars") < 500),
            ("en", F.lower(F.col("lang")) == "en"),
            ("has_hash", F.col("text").contains("hash")),
            # ES `missing` agg: docs where a (synthesized-nullable)
            # field is null — nullif(source, 'src3') is null
            ("missing", F.nullif(F.col("source"), F.lit("src3")).isNull()),
        ],
    )


def agg_pipeline_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline aggs over a monthly date_histogram of events:
    cumulative_sum, derivative (pinned to 0 for the first bucket — ES
    emits no key there, and a NULL float is engine-hash-hazardous),
    moving_fn avg window=3. The pipeline window runs over
    the reduced bucket table (coordinating-node semantics), O(#months)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.pipeline_date_histogram(e, "ts", "value", "month")


def agg_bucket_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_count_ks_test (two_sided vs uniform): KS statistic of
    the daily event-count distribution against a uniform spread over
    the buckets; runs over the reduced bucket table
    (ops/aggs.bucket_ks_test)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.bucket_ks_test(e, "ts", "day")


def agg_bucket_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_correlation (count_correlation): Pearson r between the
    daily doc_count and sum(value) bucket series, from explicit
    moments so the oracle reproduces the arithmetic
    (ops/aggs.bucket_correlation)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.bucket_correlation(e, "ts", "value", "day")


def agg_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geotile_grid aggregation (zoom=4): slippy-map tile buckets
    over the same synthesized (lon, lat) as geo_distance; top-20 by
    doc_count. Pure JVM math projection + hash agg +
    TakeOrderedAndProject."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 360 - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("double").alias("lat"),
    )
    return geo.geotile_grid_agg(d, "lon", "lat", zoom=4, size=20)


def agg_nested_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested terms agg (terms lang > terms source): top-3 parents
    by doc_count, top-2 child buckets each; one (parent, child) hash
    agg feeds both levels."""
    from mario_spark.ops import aggs

    return aggs.nested_terms_agg(
        _documents(spark, sf_dir), "lang", "source", 3, 2
    )


def agg_terms_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms agg two-phase distributed semantics incl.
    doc_count_error_upper_bound: shards (doc_id % 4) each report only
    their local top-3 buckets; the coordinator sums what was reported
    and bounds each term's possible undercount by the cutoffs of full
    shards that omitted it — the real ES approximation contract."""
    from mario_spark.ops import aggs

    return aggs.terms_agg_sharded(
        _documents(spark, sf_dir), "source", size=5, shard_size=3,
        n_shards=4,
    )


def facet_terms_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms agg with include/exclude bucket-key regexes: buckets of
    `source` matching src1x but not src13, top-5 by doc_count. Key
    predicates run BEFORE the hash agg (excluded buckets never
    shuffle)."""
    from mario_spark.ops import aggs

    return aggs.terms_agg_filtered(
        _documents(spark, sf_dir),
        "source",
        size=5,
        include="src1[0-9]",
        exclude="src13",
    )


def rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rescore: top-50 first-pass BM25 window re-ranked by
    1.0*BM25_or + 2.0*BM25_conjunctive (docs matching every query term
    get boosted; partial matches rescore 0)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_rescore(
        d, q, window_size=50, query_weight=1.0, rescore_weight=2.0, k=10
    )


def highlight_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight: first boundary-safe occurrence of any query term
    ('hash', 'join'; earliest wins) wrapped in <em> inside a 60-char
    fragment. Pure codegen string expressions — no UDF; first 20
    matching docs by doc_id (TakeOrderedAndProject)."""
    from mario_spark.ops import highlight

    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = highlight.highlight_fragment(d, "text", ["hash", "join"])
    return out.select("doc_id", "pos", "term", "snippet").orderBy(
        "doc_id"
    ).limit(20)


def highlight_best_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES unified highlighter: 30-word passages scored by the sum of
    matched-term BM25 idf ('hash', 'join'), best (earliest-max)
    passage returned with every matched word wrapped in <em>. The idf
    weights come from the corpus dictionary; the passage walk is pure
    codegen array HOFs (ops/highlight.py). First 20 matching docs."""
    from mario_spark.ops import highlight
    from mario_spark.postings import idf as _idf

    terms = ["hash", "join"]
    dt = _doc_table(spark, sf_dir)
    n_docs = float(docs.corpus_stats(dt).collect()[0]["n_docs"])
    tf = query.term_frequencies(dt)
    dfs = {
        r["term"]: float(r["df"])
        for r in tf.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    weights = {t: _idf(n_docs, dfs.get(t, 0.0)) for t in terms}
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = highlight.highlight_best_passage(d, "text", weights)
    return out.select("doc_id", "passage", "score", "snippet").orderBy(
        "doc_id"
    ).limit(20)


def facet_terms_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms aggregation (the facet behind every TIMDEX UI filter):
    buckets of `lang` over docs matching the term query 'join', with a
    doc_count and an avg(n_chars) sub-aggregation; top-10 buckets by
    doc_count desc, key asc. Plan: tf term filter -> doc_id semi-join
    -> partial+final hash agg -> TakeOrderedAndProject (no global
    window)."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir)
    tf = query.term_frequencies(
        docs.build_doc_table(documents_as_pages(spark, sf_dir))
    )
    hit_ids = tf.filter(F.col("term") == "join").select("doc_id")
    hits = d.join(hit_ids, "doc_id", "left_semi")
    return aggs.terms_agg(hits, "lang", size=10, metric_col="n_chars")


def search_after_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES search_after pagination: page 2 (rows 11-20) of lang='en'
    docs ordered by n_chars desc, doc_id asc. Page 1's last row is the
    cursor; page 2 is a cursor PREDICATE + top-10 — an independent
    TakeOrderedAndProject, no offset scan (why ES recommends
    search_after over from+size at depth)."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir).filter(F.col("lang") == "en").select(
        "doc_id", "n_chars"
    )
    pages = aggs.paginate(d, "n_chars", size=10, n_pages=2)
    return pages[-1].select("doc_id", "n_chars")


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mario_spark.ops import multimodal

    payloads = multimodal.synth_payload(_documents(spark, sf_dir))
    return multimodal.decode_features(payloads)


# ---------------------------------------------- round-2: remaining ES
# agg family (rare/multi_terms, adjacency_matrix, auto_date_histogram,
# geo rings, bucket pipeline), the _count API, constant_score, and the
# near-dedup survivor set.
def agg_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rare_terms agg over the corpus dictionary: terms appearing
    in <= 2 docs. Exact (distributed bucket table), unlike ES's
    CuckooFilter approximation — see ops/aggs.rare_terms_agg."""
    from mario_spark.ops import aggs

    tf = query.term_frequencies(_doc_table(spark, sf_dir))
    return aggs.rare_terms_agg(tf, "term", max_doc_count=2)


def agg_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_terms agg: top-10 (lang, source) composite buckets by
    doc_count desc (keys asc tiebreak) — TakeOrderedAndProject."""
    from mario_spark.ops import aggs

    return aggs.multi_terms_agg(
        _documents(spark, sf_dir), ["lang", "source"], size=10
    )


def agg_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES adjacency_matrix agg with 3 named filters (en / has_hash /
    short — same predicates as agg_filters): 3 singles + 3 pairwise
    intersections, all in ONE conditional-sum pass."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir)
    return aggs.adjacency_matrix_agg(
        d,
        {
            "short": F.col("n_chars") < 500,
            "en": F.lower("lang") == "en",
            "has_hash": F.col("text").contains("hash"),
        },
    )


def agg_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES auto_date_histogram over events.ts targeting <= 40 buckets:
    interval chosen from day -> month -> year off a 1-row min/max agg,
    emitted as interval_chosen so the oracle checks the choice."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.auto_date_histogram(ev, "ts", target_buckets=40)


def agg_geo_distance_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_distance agg: ring buckets (km from (0,0)) over the same
    synthesized geopoints as geo_distance; empty rings emitted via the
    broadcast rings dim."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 360 - 180 + 0.5).cast("float"),
            ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float"),
        ).alias("geopoint"),
    )
    return geo.geo_distance_agg(
        d,
        "geopoint",
        0.0,
        0.0,
        [
            ("0-2000", 0.0, 2000.0),
            ("2000-5000", 2000.0, 5000.0),
            ("5000-10000", 5000.0, 10000.0),
            ("10000+", 10000.0, None),
        ],
    )


def agg_bucket_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_script (avg_value = sum/count) + bucket_selector
    (avg_value > 50) over a daily date_histogram of events — both
    pipeline stages run on the reduced bucket table."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.bucket_selector_daily(ev, "ts", "value", threshold=50.0)


def agg_max_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES max_bucket sibling agg: the daily bucket with the largest
    sum(value) (earliest on ties)."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.max_bucket_daily(ev, "ts", "value")


def match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _count API: per query of the fixed set, the number of docs
    matching ANY analyzed term (OR semantics, no scoring). The query
    terms broadcast into the tf explode; countDistinct(doc_id) is one
    partial+final agg — no ranking, no window, no doc payload moved."""
    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d).select("doc_id", "term")
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return (
        tf.join(F.broadcast(q), "term")
        .groupBy("query_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("total_hits"))
    )


def constant_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES constant_score query: every doc matching the filter (any
    query term) gets score = boost (1.2) — no BM25, no per-term stats.
    Top-10 per query ranked by doc_id asc (the only total order when
    all scores tie); rank window partitioned by query_id (parallel)."""
    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d).select("doc_id", "term")
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    cand = tf.join(F.broadcast(q), "term").select("query_id", "doc_id").distinct()
    w = Window.partitionBy("query_id").orderBy(F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .withColumn("score", F.lit(1.2))
        .select("query_id", "doc_id", "score", "rank")
    )


def near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-pipeline payoff of dedup_components: the corpus
    AFTER near-dedup — one representative (min doc_id) per duplicate
    cluster, singletons kept. A post-filter on the component labels;
    no extra shuffle beyond dedup_components itself."""
    from mario_spark.ops import dedup

    comp = dedup.dedup_components(_documents(spark, sf_dir))
    return comp.filter(F.col("doc_id") == F.col("comp")).select("doc_id")


def span_or_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanOrQuery over positional postings: doc matches if ANY
    alternative phrase occurs; freq = total spans, idf = distinct
    present terms of every alternative (phrase.search_span_or)."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_SPAN_OR_SET

    queries = [
        (qid, [py_tokenize(c) for c in chains])
        for qid, chains in DOCUMENTS_SPAN_OR_SET
    ]
    return ph.search_span_or(_pos_index(spark, sf_dir), queries, k=10)


SPAN_MULTI_PREFIXES = [(0, "s"), (1, "b"), (2, "c")]


def span_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_multi wrapping a prefix query: the prefix rewrites to
    the index's matching dictionary terms (Lucene's multi-term
    rewrite — one TermStats answer for every prefix, whose dfs the
    scoring reuses), and the expansion becomes a SpanOr of 1-term
    chains: freq = total occurrences of any matching term, weight idf =
    Σ idf over the expansion (phrase.search_span_or)."""
    from mario_spark import phrase as ph

    snap = _pos_index(spark, sf_dir)
    windows = snap.terms.prefix_windows([p for _, p in SPAN_MULTI_PREFIXES])
    queries = [
        (qid, [[t] for t in windows[p]]) for qid, p in SPAN_MULTI_PREFIXES
    ]
    return ph.search_span_or(snap, queries, k=10)


def span_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanNotQuery: include-phrase spans widened by pre=1 /
    post=1 that contain the exclude term are discarded; freq =
    surviving spans, idf = include terms only
    (phrase.search_span_not)."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_SPAN_NOT_SET

    queries = [
        (qid, py_tokenize(inc), exc)
        for qid, inc, exc in DOCUMENTS_SPAN_NOT_SET
    ]
    return ph.search_span_not(
        _pos_index(spark, sf_dir), queries, k=10, pre=1, post=1
    )


def dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated 8-gram fraction per doc (exact-substring
    dedup signal, Lee et al. 2022 / RefinedWeb) — ops/dedup.dup_ngram_stats."""
    from mario_spark.ops import dedup

    return dedup.dup_ngram_stats(_documents(spark, sf_dir), n=8)


def agg_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentile_ranks (values 500, 2000 over n_chars, per lang):
    exact conditional means in one hash agg — ops/aggs."""
    from mario_spark.ops import aggs

    return aggs.percentile_ranks_agg(
        _documents(spark, sf_dir), "lang", "n_chars", [500, 2000]
    )


def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES weighted_avg of events.value weighted by the JSON prop k,
    per event_type — sum(v*w)/sum(w) in one hash agg."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.get_json_object("props", "$.k")
    return aggs.weighted_avg_agg(ev, "event_type", F.col("value"), w)


def terms_lookup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms lookup: the filter id set comes from ANOTHER index
    (embeddings rows with label = 3 -> vec_id), exactly the
    cross-index terms-lookup shape; BM25 scoring stats stay corpus-wide
    (filter context, query.search_filtered)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    lookup = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("label") == 3)
        .select(F.col("vec_id").alias("doc_id"))
    )
    return query.search_filtered(d, q, lookup, k=10)


def _sampler_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score, lang) BM25-scored candidates with the
    doc's keyword field attached — shared by the sampler aggs. The
    rank windows partition per query (parallel); the lang attach is a
    broadcast of the TINY sampled side into the corpus dim."""
    from mario_spark.docs import corpus_stats

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    tf = query.term_frequencies(d)
    dfreq = query.doc_frequencies(tf)
    st = corpus_stats(d)
    scored = query.bm25_scores(tf, dfreq, st, q).withColumn(
        "score", F.round("score", 4)
    )
    langs = _documents(spark, sf_dir).select("doc_id", "lang")
    return scored.join(langs, "doc_id")


def agg_sampler_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sampler agg (shard_size=50) + terms sub-agg: the terms
    buckets are computed over only the top-50 BM25 hits per query —
    the ES pattern for cheap aggs over the head of a result set.
    Sample = per-query rank window (rounded score desc, doc_id asc),
    then one hash agg over the tiny sample."""
    sc = _sampler_base(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    sample = sc.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 50
    )
    return sample.groupBy(
        "query_id", F.col("lang").alias("key")
    ).agg(F.count("*").cast("long").alias("doc_count"))


def agg_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES diversified_sampler (field=lang, max_docs_per_value=2,
    shard_size=20) + terms sub-agg: a per-(query, lang) rank window
    caps each lang at 2 docs BEFORE the top-20 sample window — the
    de-duplicated head ES uses to stop one dominant key from flooding
    the sample. Both windows are query-partitioned (parallel)."""
    sc = _sampler_base(spark, sf_dir)
    wdiv = Window.partitionBy("query_id", "lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    div = sc.withColumn("dr", F.row_number().over(wdiv)).filter(
        F.col("dr") <= 2
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    sample = div.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 20
    )
    return sample.groupBy(
        "query_id", F.col("lang").alias("key")
    ).agg(F.count("*").cast("long").alias("doc_count"))


def agg_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geohash_grid agg (precision 4) over the synthesized
    geopoints: cell key from the shared arithmetic-only geohash_sql
    generator (bit-identical in DuckDB), hash agg +
    TakeOrderedAndProject."""
    from mario_spark.ops import geo

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 360 - 180 + 0.5).cast("float"),
            ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float"),
        ).alias("geopoint"),
    )
    return geo.geohash_grid_agg(d, "geopoint", precision=4, size=10)


def importance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR/Moore-Lewis importance score per doc vs a target slice
    (source = src1 as the deterministic target-domain stand-in) —
    ops/textstats.importance_scores."""
    from mario_spark.ops import textstats

    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d)
    target = (
        _documents(spark, sf_dir)
        .filter(F.col("source") == "src1")
        .select("doc_id")
    )
    return textstats.importance_scores(tf, target)


def analyze_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _analyze API: the standard-analyzer token stream WITH
    positions for a handful of docs (doc_id < 5) — (doc_id, pos,
    token), 1-based positions. posexplode keeps it one JVM-side
    projection; the doc_id filter pushes to the parquet scan."""
    d = _documents(spark, sf_dir).filter(F.col("doc_id") < 5)
    toks = d.select("doc_id", analyze.tokenize_udf("text").alias("arr"))
    return toks.select(
        "doc_id", F.posexplode("arr").alias("p", "token")
    ).select(
        "doc_id", (F.col("p") + 1).cast("long").alias("pos"), "token"
    )


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix domain weights (DoReMi-lite / alpha-smoothed
    sampling, alpha=0.7): per source, weight ∝ n_docs^0.7 normalized to
    sum 1 — the standard recipe for flattening a long-tailed domain
    distribution before sampling. One hash agg + a broadcast 1-row
    total; O(#domains) rows."""
    g = (
        _documents(spark, sf_dir)
        .groupBy(F.col("source").alias("key"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    tot = g.agg(F.sum(F.pow("n_docs", 0.7)).alias("z"))
    return g.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_docs",
        F.round(F.pow("n_docs", 0.7) / F.col("z"), 6).alias("weight"),
    )


def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix RESAMPLING: materialize the alpha-smoothed domain
    mixture (domain_mixture_weights) against a fixed doc budget — per
    source, rate = min(1, weight*budget/n_docs), keep docs on the
    engine's deterministic md5 coin. The rate table is O(#domains) and
    broadcasts; the keep decision is a pure map-side filter, so the
    whole resample is one scan + one tiny agg at any corpus size.
    Returns per-source (key, n_docs, rate, n_kept)."""
    from mario_spark.ops.sample import hash_unit

    budget = 300.0
    d = _documents(spark, sf_dir).select("doc_id", "source")
    g = d.groupBy(F.col("source").alias("key")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = g.agg(F.sum(F.pow("n_docs", 0.7)).alias("z"))
    rates = g.crossJoin(F.broadcast(tot)).select(
        "key",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.round(F.pow("n_docs", 0.7) / F.col("z"), 6)
            * budget
            / F.col("n_docs"),
        ).alias("rate"),
    )
    kept = (
        d.join(F.broadcast(rates), d["source"] == rates["key"])
        .filter(hash_unit("doc_id") < F.col("rate"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        rates.join(kept, "key", "left")
        .select(
            "key",
            "n_docs",
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def multifield_cross_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type=cross_fields (title^2, contents^1):
    term-centric blended-df scoring — fields.search_cross_fields."""
    from mario_spark import fields as fieldsmod

    fdocs = _field_docs(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return fieldsmod.search_cross_fields(
        fdocs, q, {"title": 2.0, "contents": 1.0}, k=10
    )


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synthesized (lon, lat) per doc — same arithmetic as the
    geo_distance/geohash fixtures and their oracles."""
    return _documents(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 360 - 180 + 0.5).cast("float").cast("double")
        .alias("lon"),
        ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float").cast("double")
        .alias("lat"),
    )


def agg_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_centroid per lang bucket over the synthesized points
    (ops/geo.geo_centroid_agg)."""
    from mario_spark.ops import geo

    d = _geo_points(spark, sf_dir)
    return geo.geo_centroid_agg(d, "lang", F.col("lon"), F.col("lat"))


def agg_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_bounds per lang bucket over the synthesized points
    (ops/geo.geo_bounds_agg)."""
    from mario_spark.ops import geo

    d = _geo_points(spark, sf_dir)
    return geo.geo_bounds_agg(d, "lang", F.col("lon"), F.col("lat"))


def agg_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES matrix_stats over [n_chars, n_words] (words = space-split
    count): means, population variances, covariance, correlation in one
    hash agg (ops/aggs.matrix_stats_agg)."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir).select(
        F.col("n_chars").alias("a"),
        F.size(F.split("text", " ")).cast("long").alias("b"),
    )
    return aggs.matrix_stats_agg(d, "a", "b")


def agg_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES t_test (heteroscedastic / Welch) on events.value between
    event_type='purchase' and the rest (ops/aggs.t_test_agg)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.t_test_agg(e, "value", F.col("event_type") == "purchase")


def agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boxplot agg per lang over n_chars: min/q1/q2/q3/max, exact
    interpolated quantiles (ops/aggs.boxplot_agg)."""
    from mario_spark.ops import aggs

    return aggs.boxplot_agg(_documents(spark, sf_dir), "lang", "n_chars")


def agg_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_metrics per lang: doc_id metric from the row with max
    n_chars (doc_id asc tie-break) (ops/aggs.top_metrics_agg)."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir).select("lang", "n_chars", "doc_id")
    return aggs.top_metrics_agg(d, "lang", "n_chars", "doc_id")


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training merge step: corpus-wide top-20
    adjacent char-pair frequencies (ops/textstats.bpe_pair_counts)."""
    from mario_spark.ops import textstats

    return textstats.bpe_pair_counts(_documents(spark, sf_dir), k=20)


def termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _termvectors API (term_statistics=true): per (doc, term) rows
    with term_freq, 1-based positions (comma-joined for cross-engine
    value identity), and corpus doc_freq, for doc_id < 3. The df side
    is the corpus-wide dictionary (one hash agg); the per-doc side is a
    scan-pushed filter + posexplode — joined on term with the doc side
    broadcast (3 docs vs the dictionary)."""
    d = _documents(spark, sf_dir)
    toks = d.select("doc_id", analyze.tokenize_udf("text").alias("arr"))
    tv = (
        toks.filter(F.col("doc_id") < 3)
        .select("doc_id", F.posexplode("arr").alias("p", "term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count("*").cast("long").alias("term_freq"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list((F.col("p") + 1)))
            ).alias("positions"),
        )
    )
    dfreq = (
        toks.select("doc_id", F.explode("arr").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("doc_freq"))
    )
    return dfreq.join(F.broadcast(tv), "term").select(
        "doc_id", "term", "term_freq", "positions", "doc_freq"
    )


def sliced_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sliced scroll (slice id=1, max=4): deterministic horizontal
    partition of a full scan for parallel export clients. ES slices on
    a hash of _id; here slice = doc_id % max — a pure scan-side filter
    (no shuffle), each slice independently consumable."""
    return (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") % 4 == 1)
        .select("doc_id", "lang", "n_chars")
    )


def scripted_metric_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES scripted_metric agg (map/combine/reduce user script): per
    lang, the median absolute deviation of n_chars — a metric no
    built-in ES agg provides. The script body runs as one
    applyInPandas kernel per lang group (Arrow-vectorized, the
    documented custom-stateful escape hatch); a grouped pandas kernel
    is exactly ES's per-shard map + coordinating reduce collapsed into
    Spark's partial/final group model."""
    import pandas as pd

    d = _documents(spark, sf_dir).select("lang", "n_chars")

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["n_chars"].median()
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "mad": [
                    round(float((pdf["n_chars"] - med).abs().median()), 4)
                ],
            }
        )

    return d.groupBy("lang").applyInPandas(mad, "lang string, mad double")


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span dedup over non-overlapping 20-token
    chunks: per-doc count of chunk occurrences dropped by the global
    first-occurrence rule (ops/dedup.chunk_dedup_stats)."""
    from mario_spark.ops import dedup as dd

    return dd.chunk_dedup_stats(_documents(spark, sf_dir), window=20)


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup pruning over embeddings: nearest
    sampled centroid clustering, then drop any vector with a lower-id
    cluster-mate at cosine >= 0.35 (ops/ann.semdedup)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    return ann.semdedup(e)


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline PII scrub (ops/textstats.redact_pii) over a
    deterministically PII-augmented corpus (the synthetic docs carry no
    PII, so each doc gets one email, one IPv4, one phone appended —
    built from doc_id identically in both engines). Returns per-doc
    match counts + md5 of the redacted text."""
    from mario_spark.ops import textstats

    d = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%d@example.com from 10.0.%d.%d"
                " call +1 555 %03d 1234",
                F.col("doc_id"),
                F.col("doc_id") % 256,
                (F.col("doc_id") * 3) % 256,
                F.col("doc_id") % 1000,
            ),
        ).alias("text"),
    )
    r = textstats.redact_pii(d, "text")
    return r.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("text").alias("text_md5"),
    )


def agg_stats_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats_bucket + percentiles_bucket siblings over daily
    sum_value buckets: one coordinating-node row
    (ops/aggs.stats_bucket_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.stats_bucket_daily(e, "ts", "value")


def agg_bucket_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_sort pipeline agg: daily buckets re-sorted by
    sum_value desc, top-5 (ops/aggs.bucket_sort_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.bucket_sort_daily(e, "ts", "value", size=5)


def agg_serial_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES serial_diff pipeline agg: week-over-week (lag=7) doc_count
    difference on the daily histogram, first 7 buckets pinned to 0
    (ops/aggs.serial_diff_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.serial_diff_daily(e, "ts", lag=7)


def agg_cumulative_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cumulative_cardinality pipeline agg: exact running distinct
    user count per day via first-seen reduction
    (ops/aggs.cumulative_cardinality_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.cumulative_cardinality_daily(e, "ts", "user_id")


def span_first_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanFirstQuery: chain matches count only if the span lies
    entirely within the first `end` token positions
    (phrase.search_span_first)."""
    from mario_spark import phrase as ph
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_SPAN_FIRST_SET

    queries = [
        (qid, py_tokenize(p), end)
        for qid, p, end in DOCUMENTS_SPAN_FIRST_SET
    ]
    return ph.search_span_first(_pos_index(spark, sf_dir), queries, k=10)


def pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pinned query: promoted doc ids rank first in pin order (even
    with no text match — see query 3, OOV), organic BM25 after, pins
    excluded from organic and counted toward size
    (query.search_pinned)."""
    from mario_spark.fixtures import DOCUMENTS_PINNED_SET

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_pinned(d, q, DOCUMENTS_PINNED_SET, k=10)


def rank_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool {must: match, should: rank_feature saturation}: score =
    BM25 + 2.0 * n_chars / (n_chars + 200) — a static per-doc signal
    (here text length standing in for pagerank) boosting matching docs
    (query.search_rank_feature)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    feats = _documents(spark, sf_dir).select(
        "doc_id", F.length("text").cast("double").alias("feature")
    )
    return query.search_rank_feature(d, q, feats, k=10)


def rank_feature_log_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rank_feature with the log function: score = BM25 +
    2.0 * ln(1 + n_chars) (query.search_rank_feature(function='log'))."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    feats = _documents(spark, sf_dir).select(
        "doc_id", F.length("text").cast("double").alias("feature")
    )
    return query.search_rank_feature(d, q, feats, k=10, function="log")


def rank_feature_sigmoid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rank_feature with the sigmoid function: score = BM25 +
    2.0 * f^0.6 / (f^0.6 + 200^0.6)
    (query.search_rank_feature(function='sigmoid'))."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    feats = _documents(spark, sf_dir).select(
        "doc_id", F.length("text").cast("double").alias("feature")
    )
    return query.search_rank_feature(d, q, feats, k=10, function="sigmoid")


def phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES phrase suggester over bigram inputs: per-position dist<=1
    dictionary candidates (incl. dist 0), cross product collated
    against real corpus bigram frequency — fuzzy.phrase_suggest."""
    from mario_spark import fuzzy
    from mario_spark.analyze import py_tokenize, tokenize_udf
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SUGGEST_SET

    d = _doc_table(spark, sf_dir)
    tf = query.term_frequencies(d)
    dic = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    toks = _documents(spark, sf_dir).select(
        "doc_id", tokenize_udf("text").alias("arr")
    )
    inputs = [
        (iid, py_tokenize(t)) for iid, t in DOCUMENTS_PHRASE_SUGGEST_SET
    ]
    return fuzzy.phrase_suggest(toks, dic, inputs)


def terms_set_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_set query: docs containing >= minimum_should_match of
    the query's terms, BM25-scored over the matched terms
    (query.search_terms_set)."""
    from mario_spark.fixtures import DOCUMENTS_TERMS_SET_SET

    d = _doc_table(spark, sf_dir)
    return query.search_terms_set(d, DOCUMENTS_TERMS_SET_SET, k=10)


def distance_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool {must: match, should: distance_feature}: BM25 +
    2.0 * 30/(30 + |day - 182|) reciprocal date decay, the per-doc day
    synthesized as doc_id % 365 identically in both engines
    (query.search_distance_feature)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    vals = _documents(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 365).cast("double").alias("value")
    )
    return query.search_distance_feature(
        d, q, vals, origin=182.0, pivot=30.0, k=10, boost=2.0
    )


def percolate_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolate: which stored queries (bool.must registry) fire for
    each doc of an incoming 20-doc batch (query.percolate)."""
    from mario_spark.fixtures import DOCUMENTS_PERCOLATE_SET

    d = _doc_table(spark, sf_dir).filter(F.col("doc_id") < 20)
    return query.percolate(d, DOCUMENTS_PERCOLATE_SET)


def combined_fields_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES combined_fields query (Lucene CombinedFieldQuery / simple
    BM25F) over (title^2, contents^1): weighted tf/length merged into
    one pseudo-field before a single BM25
    (fields.search_combined_fields)."""
    from mario_spark import fields as fieldsmod

    fdocs = _field_docs(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return fieldsmod.search_combined_fields(
        fdocs, q, {"title": 2.0, "contents": 1.0}, k=10
    )


def intervals_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals query (match, ordered, max_gaps): valid-anchor
    counts via pure Catalyst nested array HOFs over pos_map — no
    kernel, no shuffle before the per-query top-k
    (phrase.search_intervals_match)."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import DOCUMENTS_INTERVALS_SET

    d = docs.build_doc_table(
        documents_as_pages(spark, sf_dir), positions=True
    )
    return ph.search_intervals_match(d, DOCUMENTS_INTERVALS_SET, k=10)


def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES hybrid retriever with Reciprocal Rank Fusion: BM25 (queries
    0-4 of the fixed set) + cosine kNN (query vector = embedding of
    vec_id == query_id), rank windows of 20 fused as
    sum 1/(60 + rank) (ops/ann.rrf_hybrid)."""
    from mario_spark.ops import ann

    d = _doc_table(spark, sf_dir)
    qids = [0, 1, 2, 3, 4]
    q = query_terms_df(
        spark, [(i, t) for i, t in DOCUMENTS_QUERY_SET if i in qids]
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.rrf_hybrid(d, q, e, qids, k=10, window=20)


def lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal: per-doc cross-entropy under an
    add-one-smoothed corpus bigram LM (ops/textstats.lm_cross_entropy)."""
    from mario_spark.ops import textstats

    return textstats.lm_cross_entropy(_documents(spark, sf_dir))


def bool_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_bool_prefix (search_as_you_type): BM25 term clauses +
    constant-score (+1.0) prefix clause on the last typed token
    (query.search_bool_prefix)."""
    from mario_spark.fixtures import DOCUMENTS_SAYT_SET

    d = _doc_table(spark, sf_dir)
    return query.search_bool_prefix(d, DOCUMENTS_SAYT_SET, k=10)


def ids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ids query: fetch by _id list in filter context (constant
    score 1.0) — a pure pushed-down IN filter, no shuffle."""
    wanted = [3, 7, 11, 400, 9999]
    return (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id").isin(wanted))
        .select("doc_id", "lang", F.lit(1.0).alias("score"))
    )


def exists_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES exists query: docs with a value for the field. The synthetic
    corpus has no NULLs, so `lang` is nulled for 'de' docs identically
    in both engines — exists = IS NOT NULL after that projection, a
    scan-side filter."""
    return (
        _documents(spark, sf_dir)
        .select(
            "doc_id", F.nullif(F.col("lang"), F.lit("de")).alias("lang_opt")
        )
        .filter(F.col("lang_opt").isNotNull())
        .select("doc_id", "lang_opt")
    )


def agg_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES moving_percentiles pipeline agg: trailing-7-day exact median
    of daily sum_value (ops/aggs.moving_percentiles_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.moving_percentiles_daily(e, "ts", "value", window=7, q=0.5)


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES kNN with filter (pre-filtering): exact cosine top-10 over
    ONLY label=3 vectors — every result satisfies the filter, and the
    filter prunes the candidate scan before any distance math
    (ops/ann.brute_topk with candidates=)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.brute_topk(
        e, [0, 1, 2, 3, 4], k=10, candidates=e.filter(F.col("label") == 3)
    )


def agg_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES frequent_item_sets agg (size-2 Apriori level): token pairs
    co-occurring in >= 40% of docs, top-10 by doc_count
    (ops/aggs.frequent_item_sets_pairs)."""
    from mario_spark.ops import aggs

    pres = (
        _doc_table(spark, sf_dir)
        .select("doc_id", F.explode(F.map_keys("tf_map")).alias("item"))
    )
    return aggs.frequent_item_sets_pairs(pres, min_support=0.4, k=10)


def script_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES script_score: score = _score * ln(2 + n_chars/100) — a
    Painless body re-expressed as a Catalyst expression
    (query.search_script_score)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    feats = _documents(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("double").alias("feature")
    )
    return query.search_script_score(
        d, q, feats,
        lambda score, feat: score * F.log(F.lit(2.0) + feat / 100.0),
        k=10,
    )


def runtime_field_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES runtime field: a query-time scripted field (here
    chars_bucket = floor(n_chars/100)*100) aggregated like any mapped
    field — pure projection, no reindex, Catalyst folds it into the
    scan."""
    from mario_spark.ops import aggs

    d = _documents(spark, sf_dir).select(
        (F.floor(F.col("n_chars") / 100) * 100)
        .cast("long")
        .alias("chars_bucket")
    )
    return aggs.terms_agg(d, "chars_bucket", size=10)


def span_containing_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanContainingQuery: ordered (t1, t2) span_near pairs
    that hold a little-term occurrence inside the span; freq =
    surviving big spans (phrase.search_span_contain)."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import DOCUMENTS_SPAN_CONTAIN_SET

    return ph.search_span_contain(
        _pos_index(spark, sf_dir), DOCUMENTS_SPAN_CONTAIN_SET,
        mode="containing", k=10,
    )


def span_within_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanWithinQuery: little-term occurrences lying inside an
    ordered (t1, t2) span_near pair; freq = covered little positions
    (phrase.search_span_contain)."""
    from mario_spark import phrase as ph
    from mario_spark.fixtures import DOCUMENTS_SPAN_CONTAIN_SET

    return ph.search_span_contain(
        _pos_index(spark, sf_dir), DOCUMENTS_SPAN_CONTAIN_SET,
        mode="within", k=10,
    )


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split: corpus-tercile bucketing of the
    bigram-LM cross-entropy signal (ops/textstats.ccnet_buckets)."""
    from mario_spark.ops import textstats

    return textstats.ccnet_buckets(_documents(spark, sf_dir))


def simple_qs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES simple_query_string (default_operator=AND): '|' OR-groups of
    AND'd clauses with negation, phrases, and constant-score prefixes,
    served from the shared positional index by the query_string body
    (qs.search_simple_query_string)."""
    from mario_spark import qs as qsmod
    from mario_spark.fixtures import DOCUMENTS_SQS_SET

    return qsmod.search_simple_query_string(
        _pos_index(spark, sf_dir), DOCUMENTS_SQS_SET, k=10
    )


def agg_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES normalize pipeline agg (percent_of_sum) over daily sum_value
    buckets (ops/aggs.normalize_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.normalize_daily(e, "ts", "value", method="percent_of_sum")


def agg_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rate agg (unit=day) inside a weekly date_histogram: events
    per day within each ISO-week bucket (ops/aggs.rate_weekly)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.rate_weekly(e, "ts")


def eql_sequence_vp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES EQL sequence by user_id with maxspan=6h [view] [purchase]:
    each view anchors its nearest following purchase
    (ops/aggs.eql_sequence)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.eql_sequence(
        e, "user_id", "ts", "view", "purchase", maxspan_sec=21600
    )


def eql_sequence_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES EQL sequence with until: view -> nearest purchase within 6h,
    expired when an error fires between them
    (ops/aggs.eql_sequence_until)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.eql_sequence_until(
        e, "user_id", "ts", "view", "purchase", "error", maxspan_sec=21600
    )


def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: nearest different-label
    vectors per anchor, re-ranked from a 50-deep cosine window
    (ops/ann.hard_negatives)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.hard_negatives(e, [0, 1, 2, 3, 4], k=10, window=50)


def linear_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES linear retriever: 0.7 * minmax(BM25) + 0.3 * minmax(cos)
    over 20-deep rank windows (ops/ann.linear_hybrid)."""
    from mario_spark.ops import ann

    d = _doc_table(spark, sf_dir)
    qids = [0, 1, 2, 3, 4]
    q = query_terms_df(
        spark, [(i, t) for i, t in DOCUMENTS_QUERY_SET if i in qids]
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.linear_hybrid(d, q, e, qids, k=10, window=20)


def transform_pivot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES Transform (pivot + latest): entity-centric per-user table
    from the event stream (ops/aggs.transform_pivot)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.transform_pivot(e, "user_id", "ts", "value")


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-like frame sampling: every 2nd frame's luma from the
    synthetic VID0 TLV payload — the in-kernel one-row-to-many-frames
    explode a real decoder produces (ops/multimodal.sample_frames)."""
    from mario_spark.ops import multimodal

    payloads = multimodal.synth_video_payload(_documents(spark, sf_dir))
    return multimodal.sample_frames(payloads, stride=2)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-fit-224 metadata transform over the
    decoded image dims (ops/multimodal.resize_fit)."""
    from mario_spark.ops import multimodal

    payloads = multimodal.synth_payload(_documents(spark, sf_dir))
    return multimodal.resize_fit(
        multimodal.decode_features(payloads).select(
            "doc_id", "width", "height"
        )
    )


def agg_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES string_stats agg over documents.text: count, length moments,
    character-distribution Shannon entropy (ops/aggs.string_stats_agg)."""
    from mario_spark.ops import aggs

    return aggs.string_stats_agg(_documents(spark, sf_dir), "text")


def eql_sequence3_vcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step EQL: sequence by user_id with maxspan=6h
    [view] [click] [purchase] — chained nearest-follower anchors
    (ops/aggs.eql_sequence3)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.eql_sequence3(
        e, "user_id", "ts", ("view", "click", "purchase"), maxspan_sec=21600
    )


def categorize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES categorize_text agg: drain-style 3-token signatures with
    digit runs normalized, top-10 categories
    (ops/textstats.categorize_text)."""
    from mario_spark.ops import textstats

    return textstats.categorize_text(
        _documents(spark, sf_dir), "text", k_tokens=3, size=10
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate nearest neighbors (Jegou et al. 2011):
    8-byte product-quantized codes + per-query distance tables,
    integer-exact accumulation (ops/ann.pq_topk)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.pq_topk(e, [20, 21, 22, 23, 24], k=10)


def ann_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES int8-quantized kNN + float rescore: integer weighted-L2
    candidate pass (30-deep), exact-cosine re-rank
    (ops/ann.int8_rescore_topk)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.int8_rescore_topk(e, [0, 1, 2, 3, 4], k=10, window=30)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVFPQ + refine: probe 2 cells, integer ADC over
    8-byte codes, exact-cosine re-rank of the top-30
    (ops/ann.ivf_pq_topk)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivf_pq_topk(e, [20, 21, 22, 23, 24], k=10, window=30)


def sparse_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sparse_vector query (learned-sparse / ELSER shape): dot
    product of index-time log-tf-idf doc weights with the query term
    set (query.search_sparse_vector)."""
    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    return query.search_sparse_vector(d, q, k=10)


def multiphrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type=phrase over (title^2, contents^1): the
    phrase scored per field with per-field stats, best field wins
    (fields.search_multi_phrase)."""
    from mario_spark import fields as fieldsmod
    from mario_spark.analyze import py_tokenize
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    pages = _documents(spark, sf_dir).select("doc_id", "text")
    queries = [(qid, py_tokenize(t)) for qid, t in DOCUMENTS_PHRASE_SET]
    return fieldsmod.search_multi_phrase(
        pages,
        {"title": F.substring("text", 1, 64), "contents": F.col("text")},
        queries,
        {"title": 2.0, "contents": 1.0},
        k=10,
    )


def agg_global_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `global` agg: inside a filtered search (lang='en'), a global
    bucket ignores the query filter so facets can show corpus-wide
    counts next to filtered ones — ONE conditional-sum pass, no second
    scan."""
    d = _documents(spark, sf_dir)
    return d.agg(
        F.count("*").cast("long").alias("global_count"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("query_count"),
        F.round(F.avg("n_chars"), 4).alias("global_avg_chars"),
        F.round(
            F.avg(F.when(F.col("lang") == "en", F.col("n_chars"))), 4
        ).alias("query_avg_chars"),
    )


def rank_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _rank_eval over the flagship BM25 top-10: binary judgments =
    docs containing ALL the query's terms (conjunctive match), metrics
    precision/recall@10, MRR, NDCG@10 (ops/evalx.rank_eval)."""
    from mario_spark.ops import evalx

    d = _doc_table(spark, sf_dir)
    q = query_terms_df(spark, DOCUMENTS_QUERY_SET)
    results = query.search_exhaustive(d, q, k=10)
    tf = query.term_frequencies(d)
    qn = q.groupBy("query_id").agg(F.countDistinct("term").alias("qn"))
    judgments = (
        tf.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("nt") == F.col("qn"))
        .select("query_id", "doc_id")
    )
    return evalx.rank_eval(results, judgments, k=10)


def rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES text_similarity_reranker: BM25 window-20 candidates re-ranked
    by the (stubbed, deterministic) cross-encoder kernel — the batch
    model-inference plumbing, oracle-verified end-to-end
    (query.search_rerank)."""
    qids = [0, 1, 2, 4, 5]
    queries = [(i, t) for i, t in DOCUMENTS_QUERY_SET if i in qids]
    d = _doc_table(spark, sf_dir)
    return query.search_rerank(
        d, _documents(spark, sf_dir), queries, k=10, window=20
    )


def agg_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested terms agg + reverse_nested: docs split into nested
    "passage" objects (10-token windows); buckets = top-5 passage
    tokens by NESTED doc_count (one per passage containing the token),
    each with the reverse_nested PARENT doc_count (distinct docs) —
    nested > parent exactly where a doc repeats the token across
    passages, which is what reverse_nested exists to expose. One
    explode + one hash agg carrying both counts."""
    d = _documents(spark, sf_dir).filter(
        F.expr(r"size(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+', 0)) > 0")
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                r"transform(sequence(0,"
                r" cast(ceil(size(regexp_extract_all(lower(text),"
                r" '[\\p{L}\\p{N}]+', 0)) / 10.0) as int) - 1),"
                r" i -> slice(regexp_extract_all(lower(text),"
                r" '[\\p{L}\\p{N}]+', 0), i * 10 + 1, 10))"
            )
        ).alias("chunk"),
    )
    toks = chunks.select(
        "doc_id", F.explode(F.array_distinct("chunk")).alias("key")
    )
    return (
        toks.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("nested_doc_count"),
            F.countDistinct("doc_id").cast("long").alias("parent_doc_count"),
        )
        .orderBy(F.desc("nested_doc_count"), F.asc("key"))
        .limit(5)
    )


def nested_query_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested query: docs split into nested "sentence" objects
    (split on '.'), matching when ONE AND THE SAME element satisfies
    both predicates (contains 'join' AND length > 120). This is the
    semantics a flattened object mapping gets WRONG (it would match
    docs where one sentence has 'join' and a different one is long) —
    the reason record.py maps TIMDEX sub-objects with nested scoping.
    Pure Catalyst: split + exists(HOF), no shuffle before the scan
    filter; also returns the count of qualifying elements."""
    d = _documents(spark, sf_dir)
    sents = F.split(F.col("text"), r"\.")
    pred = lambda x: x.contains("join") & (F.length(x) > 120)  # noqa: E731
    return (
        d.select(
            "doc_id",
            F.size(F.filter(sents, pred)).cast("long").alias("n_matching"),
        )
        .filter(F.col("n_matching") > 0)
    )


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality audit: MinHash-LSH candidate recall/precision vs
    exact Jaccard ground truth on the doc_id < 200 sample
    (ops/dedup.lsh_audit)."""
    from mario_spark.ops import dedup as dd

    return dd.lsh_audit(_documents(spark, sf_dir), sample_max_id=200)


def agg_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES change_point agg (max-deviation core): the daily bucket
    deviating most from the series mean, typed spike/dip
    (ops/aggs.change_point_daily)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.change_point_daily(e, "ts", "value")


def fingerprint_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fingerprint analyzer (the OpenRefine key-collision method ES
    ships for entity dedup): tokens lowercased, DEDUPLICATED, SORTED,
    space-joined — word order and repetition vanish, so reshuffled
    near-identical records collide on the same key. Emits md5(key)
    per doc + the collision-group size. Pure codegen (sort_array +
    array_distinct), one hash agg on the digest."""
    d = _documents(spark, sf_dir)
    arr = F.regexp_extract_all(
        F.lower("text"), F.lit(r"[\p{L}\p{N}]+"), F.lit(0)
    )
    fp = F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(arr))))
    keyed = d.select("doc_id", fp.alias("fp"))
    grp = keyed.groupBy("fp").agg(
        F.count("*").cast("long").alias("group_size")
    )
    return keyed.join(grp, "fp").select("doc_id", "fp", "group_size")


def esql_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL pipeline: filtered STATS BY with sort+limit — one Catalyst
    plan end-to-end (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM documents | WHERE lang == "en" '
        "| STATS c = COUNT(*), avg_chars = AVG(n_chars) BY source "
        "| SORT c DESC, source ASC | LIMIT 5",
    )


def esql_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL with EVAL: computed column feeding a grouped SUM
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM events | EVAL v2 = value * 2 | WHERE event_type == "click" '
        "| STATS s = SUM(v2) BY user_id | SORT s DESC, user_id ASC "
        "| LIMIT 10",
    )


def esql_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ENRICH (lookup-join command): customers enriched with
    their nation name via a broadcast dim join, then STATS BY
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM customer | ENRICH nation ON c_nationkey WITH n_name "
        "| STATS c = COUNT(*), avg_bal = AVG(c_acctbal) BY n_name "
        "| SORT c DESC, n_name ASC | LIMIT 5",
    )


def esql_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL DISSECT: structured extraction from the raw props JSON
    string via a %{field} pattern, then grouped stats on the parsed
    value (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events | DISSECT props '{\"k\": %{kval}}' "
        "| STATS c = COUNT(*) BY kval | SORT c DESC, kval ASC | LIMIT 10",
    )


def esql_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL MEDIAN + RENAME: per-event-type median value
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events | RENAME event_type AS et "
        "| STATS med = MEDIAN(value), c = COUNT(*) BY et "
        "| SORT et ASC",
    )


def esql_stats_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL per-aggregate WHERE filters (8.16): clicked vs error
    counts per user in ONE hash agg (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events "
        '| STATS clicks = COUNT(*) WHERE event_type == "click", '
        'errors = COUNT(*) WHERE event_type == "error", '
        "total = COUNT(*) BY user_id "
        "| SORT clicks DESC, user_id ASC | LIMIT 10",
    )


def esql_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL GROK: regex-primitive extraction (%{INT:kval:int}) from the
    raw props JSON string, typed capture feeding grouped stats — one
    anchored regex, pure codegen (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events | GROK props '{\"k\": %{INT:kval:int}}' "
        "| STATS c = COUNT(*), mx = MAX(kval) BY event_type "
        "| SORT event_type ASC",
    )


def esql_mv_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL MV_EXPAND over a SPLIT-built multi-value field: word
    frequency of the corpus as a pipeline — split stays a no-shuffle
    Generate, the only exchange is the STATS hash agg
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM documents | EVAL w = SPLIT(text, " ") | MV_EXPAND w '
        "| STATS n = COUNT(*) BY w | SORT n DESC, w ASC | LIMIT 10",
    )


def esql_inlinestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL INLINESTATS: per-lang average attached to every row
    (broadcast join-back, no fact shuffle), rows above their group
    average kept, then a collapsing STATS (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents "
        "| INLINESTATS avg_chars = AVG(n_chars) BY lang "
        "| WHERE n_chars > avg_chars "
        "| STATS n = COUNT(*), avg_over = AVG(n_chars) BY lang "
        "| SORT lang ASC",
    )


def agg_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_range agg over events.ts: three buckets with open ends
    and an overlap (whole January), one single-scan conditional agg
    (ops/aggs.date_range_agg)."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.date_range_agg(
        e,
        "ts",
        [
            ("*-2024-01-10", None, "2024-01-10 00:00:00"),
            ("2024-01-10-2024-01-20", "2024-01-10 00:00:00", "2024-01-20 00:00:00"),
            ("2024-01-20-*", "2024-01-20 00:00:00", None),
            ("january", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        ],
    )


def agg_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES random_sampler agg (probability 0.25): avg n_chars over a
    deterministic md5-coin subsample, doc_count scaled back by 1/p
    (ops/aggs.random_sampler_agg)."""
    from mario_spark.ops import aggs

    return aggs.random_sampler_agg(
        _documents(spark, sf_dir), "doc_id", "n_chars", probability=0.25
    )


def esql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL SAMPLE: deterministic md5-coin Bernoulli sample (p=0.25)
    feeding grouped stats — the coin fuses into the scan
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents | SAMPLE 0.25 "
        "| STATS n = COUNT(*), avg_chars = AVG(n_chars) BY lang "
        "| SORT lang ASC",
    )


def esql_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL CHANGE_POINT command over a STATS series: the per-user
    sum_value row deviating most from the series mean, typed spike/dip
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events | STATS v = SUM(value) BY user_id "
        "| CHANGE_POINT v ON user_id",
    )


def esql_where_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL WHERE with IN / LIKE / NOT clauses, AND-chained, all
    pushdown-able scan predicates (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM documents | WHERE lang IN ("en", "de") '
        'AND source LIKE "src1%" AND NOT n_chars < 100 '
        "| STATS n = COUNT(*), avg_chars = AVG(n_chars) BY lang, source "
        "| SORT lang ASC, source ASC",
    )


def esql_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL time-series STATS BY BUCKET(ts, 1 day): the canonical
    ES|QL dashboard query — one hash agg on the truncated day
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events "
        "| STATS n = COUNT(*), avg_v = AVG(value) BY d = BUCKET(ts, 1 day) "
        "| SORT d ASC",
    )


def esql_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL CASE conditional in EVAL: value banding feeding grouped
    counts — one chained when/otherwise, pure codegen
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM events | EVAL band = CASE(value >= 75.0, "high", '
        'value >= 25.0, "mid", "low") '
        "| STATS n = COUNT(*) BY event_type, band "
        "| SORT event_type ASC, band ASC",
    )


def esql_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL COUNT_DISTINCT + PERCENTILE stats per event_type — one
    hash agg; exact distinct (ES uses HLL, ours is exact — documented
    divergence in the engine's favor) (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events "
        "| STATS users = COUNT_DISTINCT(user_id), "
        "p90 = PERCENTILE(value, 90) BY event_type "
        "| SORT event_type ASC",
    )


def esql_where_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL WHERE over timestamps: string literals compare against the
    ts column (implicit timestamp cast — pushdown-able range scan)
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'FROM events | WHERE ts >= "2024-01-10 00:00:00" '
        'AND ts < "2024-01-20 00:00:00" '
        "| STATS n = COUNT(*), avg_v = AVG(value) BY event_type "
        "| SORT event_type ASC",
    )


def esql_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL LOOKUP JOIN (8.18): orders joined to the customer lookup
    index on a same-named key (RENAME aligns it first), filtered and
    aggregated — the lookup side broadcasts (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM orders | RENAME o_custkey AS c_custkey "
        "| LOOKUP JOIN customer ON c_custkey "
        '| WHERE c_mktsegment == "BUILDING" '
        "| STATS n = COUNT(*), sum_price = SUM(o_totalprice) BY c_nationkey "
        "| SORT c_nationkey ASC",
    )


def esql_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL FUSE (9.x tech preview): rrf-combine two FORK branches —
    one ranking docs by n_chars desc, one by doc_id asc — into a fused
    _score = sum 1/(60 + rank) per _id (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents | RENAME doc_id AS _id | FORK "
        "( EVAL _score = TO_DOUBLE(n_chars) | SORT _score DESC, _id ASC"
        " | LIMIT 20 ) "
        "( EVAL _score = _id * -1.0 | SORT _score DESC, _id ASC"
        " | LIMIT 20 ) "
        "| FUSE | SORT _score DESC, _id ASC | LIMIT 10",
    )


def esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL FORK (8.19): two branches over the same input — an
    error-only count and an all-types count+avg — unioned by name with
    a _fork tag, null-filling the narrower branch (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events | FORK "
        '( WHERE event_type == "error" | STATS n = COUNT(*) BY event_type ) '
        "( STATS n = COUNT(*), avg_v = AVG(value) BY event_type ) "
        "| SORT _fork ASC, event_type ASC",
    )


def esql_eval_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL scalar functions in EVAL (TO_UPPER / SUBSTRING / LENGTH),
    each a 1:1 Catalyst builtin, feeding grouped stats
    (esql.run_esql)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents "
        "| EVAL src = TO_UPPER(source) "
        "| EVAL head = SUBSTRING(text, 1, 10) "
        "| EVAL hl = LENGTH(head) "
        "| STATS n = COUNT(*), avg_hl = AVG(hl), mx = MAX(hl) BY src "
        "| SORT src ASC",
    )


def esql_where_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL WHERE with OR at SQL precedence (AND binds tighter) plus
    RLIKE, and a VALUES() multivalue aggregate — all one scan + one
    hash agg (esql.run_esql). The multivalue is emitted as its sorted
    comma-joined string, so every consumer compares scalars."""
    from mario_spark.esql import run_esql

    out = run_esql(
        spark, sf_dir,
        "FROM documents "
        '| WHERE lang == "en" AND source RLIKE "src[13]" '
        'OR lang == "de" AND n_chars >= 1000 '
        "| STATS n = COUNT(*), langs = VALUES(lang) BY source "
        "| SORT source ASC",
    )
    return out.withColumn("langs", F.array_join(F.sort_array("langs"), ","))


def esql_null_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL NULL literal in CASE, IS NOT NULL filtering semantics via
    COUNT of a nullable column, and SORT ... NULLS LAST under a LIMIT
    (TakeOrderedAndProject with explicit null ordering)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents "
        "| EVAL big = CASE(n_chars >= 2000, n_chars, NULL) "
        "| KEEP doc_id, big "
        "| SORT big DESC NULLS LAST, doc_id ASC "
        "| LIMIT 20",
    )


def esql_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL date functions: DATE_TRUNC(1 day), DATE_EXTRACT("hour"),
    DATE_FORMAT("yyyy-MM"), DATE_DIFF("hour", day, ts) — each a
    Catalyst date builtin; the pipeline stays one scan + one agg."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM events "
        "| EVAL day = DATE_TRUNC(1 day, ts) "
        '| EVAL hh = DATE_EXTRACT("hour", ts) '
        '| EVAL mon = DATE_FORMAT("yyyy-MM", ts) '
        '| EVAL hrs = DATE_DIFF("hour", day, ts) '
        "| STATS n = COUNT(*), mx_h = MAX(hh), avg_hrs = AVG(hrs) BY mon "
        "| SORT mon ASC",
    )


def esql_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL string functions: STARTS_WITH / REPLACE / LEFT / RIGHT /
    LOCATE / REVERSE, all 1:1 Catalyst builtins feeding one agg."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents "
        '| EVAL sw = STARTS_WITH(source, "src1") '
        '| EVAL s2 = REPLACE(source, "src", "S") '
        '| EVAL r2 = RIGHT(s2, 2) '
        '| EVAL rev = REVERSE(r2) '
        '| EVAL pos = LOCATE(text, "the") '
        "| STATS n = COUNT(*), mx_pos = MAX(pos) BY sw, s2, rev "
        "| SORT s2 ASC, sw ASC",
    )


def esql_mv_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL multi-value functions over a real array column
    (embeddings.embedding): MV_COUNT / MV_SUM / MV_AVG / MV_MIN /
    MV_MAX — array builtins + HOF folds, whole-stage codegen, rounded
    4dp (sum accumulates in list order as double on both engines)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM embeddings "
        "| EVAL n = MV_COUNT(embedding) "
        "| EVAL s = MV_SUM(embedding) "
        "| EVAL a = MV_AVG(embedding) "
        "| KEEP vec_id, n, s, a "
        "| SORT vec_id ASC "
        "| LIMIT 100",
    )


def esql_mv_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL MV_DEDUPE + MV_COUNT over SPLIT tokens: distinct-token
    count per doc, top 50 (TakeOrderedAndProject)."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        "FROM documents "
        '| EVAL toks = SPLIT(text, " ") '
        "| EVAL ded = MV_DEDUPE(toks) "
        "| EVAL nu = MV_COUNT(ded) "
        "| KEEP doc_id, nu "
        "| SORT nu DESC, doc_id ASC "
        "| LIMIT 50",
    )


def esql_stats_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL extended aggregates: TOP(col, n, "desc") multivalue,
    STD_DEV (population, like extended_stats), WEIGHTED_AVG(v, w) —
    all in ONE hash agg. The TOP multivalue is emitted as its
    ascending comma-joined string, so every consumer compares
    scalars."""
    from mario_spark.esql import run_esql

    out = run_esql(
        spark, sf_dir,
        "FROM events "
        '| STATS top_v = TOP(value, 3, "desc"), sd = STD_DEV(value), '
        "wa = WEIGHTED_AVG(value, event_id) BY event_type "
        "| SORT event_type ASC",
    )
    top = F.sort_array("top_v").cast("array<string>")
    return out.withColumn("top_v", F.array_join(top, ","))


def esql_row_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ROW literal source + math/string scalars (POW, GREATEST,
    RIGHT, LOG10) — a pipeline with no table scan at all."""
    from mario_spark.esql import run_esql

    return run_esql(
        spark, sf_dir,
        'ROW a = 7, b = 2.5, s = "hello" '
        "| EVAL p = POW(a, 2) "
        "| EVAL g = GREATEST(b, p) "
        "| EVAL r = RIGHT(s, 3) "
        "| EVAL lg0 = LOG10(a) "
        "| EVAL lg = ROUND(lg0, 4) "
        "| KEEP p, g, r, lg",
    )


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup (ops/dedup.bloom_membership):
    source 'src1' is the reference corpus; every other doc is probed
    against its k=3/m=65536 Bloom bit set. The bit set is the reduced,
    broadcastable artifact — the CCNet/Dolma cross-snapshot dedup
    shape. Exact duplicates of reference docs always flag; the oracle
    computes the identical probe positions, so false positives match
    bit-for-bit too."""
    from mario_spark.ops.dedup import bloom_membership

    return bloom_membership(
        _documents(spark, sf_dir), F.col("source") == "src1"
    )


def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    reproducible (shard, pos) for epoch 0 — shard = md5 fold mod 8,
    pos = rank of the SAME md5 key within the shard. No global sort:
    the rank window partitions by shard (8-way parallel), which is the
    whole point — at 10^12 docs you shuffle within shards and
    interleave shards at read time, never ordering the corpus
    globally. Seeded by the key prefix 'ep0#', so epoch 1 is a
    different-but-reproducible permutation."""
    d = _documents(spark, sf_dir).select("doc_id")
    key = F.md5(F.concat(F.lit("ep0#"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id",
        key.alias("k"),
        F.pmod(
            F.conv(F.substring(key, 1, 13), 16, 10).cast("long"), F.lit(8)
        ).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def agg_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ip_range agg (the `ip` field type): range buckets with open
    ends plus a CIDR mask bucket, conditional sums in one single-scan
    hash agg (ops/aggs.ip_range_agg). The ip column is derived
    deterministically from event ids (dotted-quad in 10/8), standing in
    for an indexed ip field."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ip",
        F.concat_ws(
            ".",
            F.lit(10),
            F.pmod(F.col("user_id"), F.lit(64)).cast("string"),
            F.pmod(F.floor(F.col("event_id") / 256), F.lit(256)).cast("string"),
            F.pmod(F.col("event_id"), F.lit(256)).cast("string"),
        ),
    )
    return aggs.ip_range_agg(
        ev,
        "ip",
        ranges=[
            ("low", None, "10.16.0.0"),
            ("mid", "10.16.0.0", "10.48.0.0"),
            ("high", "10.48.0.0", None),
        ],
        masks=["10.32.0.0/11"],
    )


def agg_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ip_prefix agg (8.1+): buckets per /20 network prefix over the
    deterministic event-derived ip field — masked dotted-quad key +
    echoed prefix_length, numeric-ascending order, one hash agg
    (ops/aggs.ip_prefix_agg)."""
    from mario_spark.ops import aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ip",
        F.concat_ws(
            ".",
            F.lit(10),
            F.pmod(F.col("user_id"), F.lit(64)).cast("string"),
            F.pmod(F.floor(F.col("event_id") / 256), F.lit(256)).cast("string"),
            F.pmod(F.col("event_id"), F.lit(256)).cast("string"),
        ),
    )
    return aggs.ip_prefix_agg(ev, "ip", prefix_length=20)


def agg_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `children` aggregation: terms bucket on a parent field
    (customer.c_mktsegment) with metrics over each bucket's child docs
    (orders) — ops/parent_child.children_agg; one join + one hash
    agg."""
    from mario_spark.ops.parent_child import children_agg

    return children_agg(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        parent_key="c_custkey",
        child_fk="o_custkey",
        bucket_col="c_mktsegment",
        metric_col="o_totalprice",
    ).orderBy("bucket")


def host_cap_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap (Dolma/RefinedWeb curation): keep the top
    5 docs per host by n_chars (doc_id tie-break) — host derived
    deterministically from doc_id (the corpus has no url column), rank
    window partitioned by host (ops/sample.cap_per_host)."""
    from mario_spark.ops.sample import cap_per_host

    d = _documents(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        F.format_string("host%d.example.com", F.col("doc_id") % 37).alias(
            "host"
        ),
    )
    return cap_per_host(d, n_per_host=5, quality_col="n_chars").select(
        "doc_id", "host", "host_rank"
    )


def cluster_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balance sampling weights (DoReMi-lite over EMBEDDING
    clusters instead of source labels): assign every vector to its
    nearest pinned centroid (the IVF sampled-centroid assignment —
    broadcast centroid dim, deterministic (d, cell) tie-break), then
    weight each cluster ∝ n^0.7 normalized. One broadcast crossJoin +
    one rank window (partitioned by vec_id) + one tiny agg."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = e.filter(F.col("vec_id").isin(ann.DEFAULT_CENTROID_IDS)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    dist = e.crossJoin(F.broadcast(cents)).withColumn(
        "d", ann._sq_l2("embedding", "cvec")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cell")
    assign = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    cnt = assign.groupBy("cell").agg(F.count("*").cast("long").alias("n"))
    tot = cnt.agg(F.sum(F.pow("n", F.lit(0.7))).alias("t"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n",
            F.round(F.pow("n", F.lit(0.7)) / F.col("t"), 6).alias("weight"),
        )
        .orderBy("cell")
    )


def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with span REMOVAL (Lee et al. 2022): cut
    every non-first occurrence of a corpus-duplicated token 8-gram,
    merge contiguous cuts into maximal spans, rewrite each doc from the
    surviving tokens (ops/dedup.exact_substring_dedup). clean_hash
    fingerprints the rewritten doc so the oracle checks the REWRITE,
    not just the counts."""
    from mario_spark.ops import dedup

    return dedup.exact_substring_dedup(_documents(spark, sf_dir), n=8)


def host_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-reputation domain filter (RefinedWeb/Dolma): per-host mean
    quality (proxy: n_chars) + doc count; hosts below the 25th
    percentile of host means are dropped outright
    (ops/sample.host_reputation). Host derived deterministically from
    doc_id (same synthetic host grid as host_cap_keep)."""
    from mario_spark.ops.sample import host_reputation

    d = _documents(spark, sf_dir).select(
        F.col("n_chars").cast("double").alias("quality"),
        F.format_string("host%d.example.com", F.col("doc_id") % 37).alias(
            "host"
        ),
    )
    return host_reputation(d, quality_col="quality", drop_quantile=0.25)


def pack_best_fit_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit sequence packing (Ding et al. 2024 / Llama-3): FFD
    bin-packing per shard so no doc under seq_len is ever split
    (ops/sample.pack_best_fit). The FFD loop is not SQL-expressible,
    so the oracle reads a pinned fixture generated by an independent
    pure-Python reference (scripts/gen_rows_only_fixtures.py), keyed
    on corpus mass; invariants + packing-quality bound additionally
    pytest-verified (test_ops.test_pack_best_fit_*)."""
    from mario_spark.ops.sample import pack_best_fit

    return pack_best_fit(_documents(spark, sf_dir), seq_len=256, n_shards=8)


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training (ops/textstats.bpe_train): 5
    merge rules learned over the corpus char stream, one alphabet-
    bounded hash agg per iteration, deterministic tie-breaks. The
    feedback loop (each rule changes the next tokenization) is not
    SQL-expressible, so the oracle reads a pinned fixture generated by
    an independent pure-Python trainer
    (scripts/gen_rows_only_fixtures.py), keyed on corpus mass; pytest
    additionally pins the loop on a hand corpus."""
    from mario_spark.ops.textstats import bpe_train

    merges = bpe_train(_documents(spark, sf_dir), n_merges=5)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning pass: per-line keep predicate (terminal
    marker + >=5 words), doc-level >=3-surviving-lines gate, doc
    rewritten from survivors (clean_hash fingerprints the rewrite).
    Pure higher-order-function codegen, one scan."""
    from mario_spark.ops.pipeline import c4_line_filter as _c4

    return _c4(_documents(spark, sf_dir))


def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: encode every doc with the pinned merge
    rules (ops/textstats.BPE_APPLY_RULES — a trained tokenizer's frozen
    merges.txt) and report symbol count + fertility (chars/symbol).
    Each merged symbol re-encodes as one private-use char, which makes
    a BPE merge pass identical to leftmost-non-overlapping replace() —
    so the encode is a replace() chain: whole-stage codegen, fused into
    the scan, oracle-able in plain SQL."""
    from mario_spark.ops.textstats import bpe_encode_stats

    return bpe_encode_stats(_documents(spark, sf_dir))


def ann_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES kNN `similarity` cutoff: exact cosine top-10 per query, hits
    below cosine 0.28 dropped (ES's minimum-similarity gate — since
    scores are rank-sorted, the cutoff keeps a prefix of each query's
    list)."""
    from mario_spark.ops import ann

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.brute_topk(e, ANN_QUERY_IDS, k=10).filter(
        F.col("cos") >= 0.28
    )


def agg_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_line agg: per user, the track of the first 20 event
    points ordered by (ts, event_id), as a comma-joined "lon lat" line
    string; points synthesized from event_id on the same grid as the
    document geopoints (ops/geo.geo_line_agg)."""
    from mario_spark.ops import geo

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_id") % 360 - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("event_id") * 7) % 170 - 85 + 0.5).cast("double").alias("lat"),
    )
    return geo.geo_line_agg(
        e, "user_id", "ts", "event_id", F.col("lon"), F.col("lat"), size=20
    )


def clf_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality classifier plumbing: hashed linear model
    with pinned pseudo-weights over token buckets
    (ops/textstats.hashed_linear_quality)."""
    from mario_spark.ops import textstats

    return textstats.hashed_linear_quality(_documents(spark, sf_dir))


def match_msm75_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match with minimum_should_match: "75%": per query, at least
    ceil(0.75 * n_terms) of the analyzed terms must match (ES rounds
    percentages DOWN to the nearest achievable count — Lucene's
    calculateMinShouldMatch floors the product, i.e. 75% of 3 terms =
    2). Served by the terms_set kernel with the computed per-query
    minimum (query.search_terms_set)."""
    import math

    from mario_spark.analyze import py_tokenize

    qsets = []
    for qid, qtext in DOCUMENTS_QUERY_SET:
        terms = list(dict.fromkeys(py_tokenize(qtext)))
        m = max(1, int(math.floor(0.75 * len(terms))))
        qsets.append((qid, terms, m))
    d = _doc_table(spark, sf_dir)
    return query.search_terms_set(d, qsets, k=10)


def has_child_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_child join-field query: top-10 PARENT customers by the
    summed score of their matching children (orders with
    o_orderpriority = '1-URGENT'), min_children=2. Child score =
    o_totalprice (a per-child score function); score_mode=sum folds it
    into the parent exactly as ES does."""
    from mario_spark.ops import parent_child

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return parent_child.has_child(
        cust,
        orders,
        parent_key="c_custkey",
        child_fk="o_custkey",
        child_pred=F.col("o_orderpriority") == "1-URGENT",
        score_col=F.col("o_totalprice"),
        score_mode="sum",
        min_children=2,
        k=10,
    )


def has_parent_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_parent join-field query: CHILD orders (urgent only) whose
    parent customer matches c_mktsegment = 'BUILDING', with the parent
    segment propagated onto the child hit (inner_hits-style). The
    filtered parent dim is broadcast."""
    from mario_spark.ops import parent_child

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return parent_child.has_parent(
        cust,
        orders,
        parent_key="c_custkey",
        child_fk="o_custkey",
        parent_pred=F.col("c_mktsegment") == "BUILDING",
        parent_fields=["c_mktsegment"],
    ).select("o_orderkey", "o_custkey", "c_mktsegment")


def agg_bucket_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bucket_script pipeline agg: daily error_rate =
    errors / doc_count, sub-aggs fused into one conditional hash agg."""
    from mario_spark.ops import aggs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return aggs.bucket_script_daily(e, "ts", "event_type", "error")


def _doc_geopoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized deterministic per-doc (lon, lat) shared by every
    geo query (same arithmetic in the oracles)."""
    return _documents(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 360 - 180 + 0.5).cast("float").cast("double")
        .alias("lon"),
        ((F.col("doc_id") * 7) % 170 - 85 + 0.5).cast("float").cast("double")
        .alias("lat"),
    )


def geo_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sort-by-_geo_distance: the 10 docs nearest to (10E, 20N),
    distance attached (what ES returns in `sort`). Ordering on the
    ROUNDED distance with doc_id tiebreak keeps both engines
    deterministic; top-k is TakeOrderedAndProject, never a global
    sort."""
    from mario_spark.ops import geo

    d = _doc_geopoints(spark, sf_dir).withColumn(
        "distance_km",
        F.round(
            geo.haversine_km(
                F.col("lon"), F.col("lat"), F.lit(10.0), F.lit(20.0)
            ),
            3,
        ),
    )
    top = d.orderBy(F.asc("distance_km"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.asc("distance_km"), F.asc("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "doc_id", "distance_km")


def geo_polygon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_polygon query: docs whose synthesized point falls inside
    a fixed pentagon. The even-odd ray cast is ONE generated SQL
    predicate shared verbatim with the DuckDB oracle."""
    from mario_spark.ops import geo

    d = _doc_geopoints(spark, sf_dir)
    return geo.geo_polygon_filter(
        d, "lon", "lat", geo.POLYGON_PENTAGON
    ).select(
        "doc_id", F.round("lon", 4).alias("lon"), F.round("lat", 4).alias("lat")
    )


SUITE = {
    "doc_lengths": doc_lengths,
    "term_df": term_df,
    "corpus_stats": corpus_stats,
    "bm25_topk": bm25_topk,
    "keyword_normalize": keyword_normalize,
    "filter_lang_en": filter_lang_en,
    "token_count_bpe": token_count_bpe,
    "multimodal_bytes": multimodal_bytes,
    "exact_dedup_stats": exact_dedup_stats,
    "exact_dedup_groups": exact_dedup_groups,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "date_parse_cascade": date_parse_cascade,
    "date_range_query": date_range_query,
    "events_windowed": events_windowed,
    "events_sessionized": events_sessionized,
    "events_props_json": events_props_json,
    "bm25_topk_wand": bm25_topk_wand,
    "bm25_topk_and": bm25_topk_and,
    "bm25_topk_not": bm25_topk_not,
    "bm25_topk_msm": bm25_topk_msm,
    "fuzzy_topk": fuzzy_topk,
    "fuzzy_damerau_topk": fuzzy_damerau_topk,
    "fuzzy_blended_topk": fuzzy_blended_topk,
    "prefix_topk": prefix_topk,
    "wildcard_topk": wildcard_topk,
    "regexp_topk": regexp_topk,
    "bm25_topk_filtered": bm25_topk_filtered,
    "synonym_topk": synonym_topk,
    "collapse_topk": collapse_topk,
    "collapse_inner_hits": collapse_inner_hits,
    "bm25_topk_decay": bm25_topk_decay,
    "bm25_topk_gauss": bm25_topk_gauss,
    "bm25_topk_linear_decay": bm25_topk_linear_decay,
    "bm25_topk_fvf": bm25_topk_fvf,
    "bm25_topk_boosted": bm25_topk_boosted,
    "bm25_topk_min_score": bm25_topk_min_score,
    "bm25_topk_nonorms": bm25_topk_nonorms,
    "more_like_this_topk": more_like_this_topk,
    "search_sorted_by_field": search_sorted_by_field,
    "bool_composed_topk": bool_composed_topk,
    "bm25_topk_title": bm25_topk_title,
    "multifield_most_topk": multifield_most_topk,
    "multifield_best_topk": multifield_best_topk,
    "dismax_topk": dismax_topk,
    "boosting_topk": boosting_topk,
    "explain_scores": explain_scores,
    "phrase_topk": phrase_topk,
    "phrase_near_topk": phrase_near_topk,
    "span_near_unordered_topk": span_near_unordered_topk,
    "phrase_prefix_topk": phrase_prefix_topk,
    "phrase_shingle_topk": phrase_shingle_topk,
    "synonym_graph_topk": synonym_graph_topk,
    "facet_terms_filtered": facet_terms_filtered,
    "agg_terms_sharded": agg_terms_sharded,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "incremental_minhash_dedup": incremental_minhash_dedup,
    "dedup_components": dedup_components,
    "dedup_keep_best": dedup_keep_best,
    "simhash64": simhash64,
    "simhash_pairs": simhash_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_decontaminate": ngram_decontaminate,
    "repetition_stats": repetition_stats,
    "url_dedup": url_dedup,
    "stratified_sample": stratified_sample,
    "pack_sequences": pack_sequences,
    "clean_corpus": clean_corpus,
    "ann_brute_topk": ann_brute_topk,
    "ann_maxsim_topk": ann_maxsim_topk,
    "ann_lsh_pairs": ann_lsh_pairs,
    "ann_ivf_topk": ann_ivf_topk,
    "knn_graph_exact": knn_graph_exact,
    "knn_graph_ivf": knn_graph_ivf,
    "ivf_recall_audit": ivf_recall_audit,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "gopher_quality": gopher_quality,
    "winnow_fingerprints": winnow_fingerprints,
    "multimodal_decode": multimodal_decode,
    "highlight_fragments": highlight_fragments,
    "highlight_best_passage": highlight_best_passage,
    "facet_terms_lang": facet_terms_lang,
    "agg_stats_lang": agg_stats_lang,
    "agg_date_histogram": agg_date_histogram,
    "agg_range_nchars": agg_range_nchars,
    "agg_percentiles": agg_percentiles,
    "agg_cardinality_users": agg_cardinality_users,
    "agg_top_hits": agg_top_hits,
    "agg_significant_terms": agg_significant_terms,
    "agg_significant_text": agg_significant_text,
    "agg_variable_width": agg_variable_width,
    "agg_composite_page": agg_composite_page,
    "query_string_topk": query_string_topk,
    "query_string_fields_topk": query_string_fields_topk,
    "term_suggest": term_suggest,
    "term_suggest_popular": term_suggest_popular,
    "term_suggest_missing": term_suggest_missing,
    "terms_enum": terms_enum,
    "agg_histogram_nchars": agg_histogram_nchars,
    "agg_extended_stats": agg_extended_stats,
    "agg_filters": agg_filters,
    "agg_pipeline_monthly": agg_pipeline_monthly,
    "agg_geotile_grid": agg_geotile_grid,
    "agg_bucket_ks_test": agg_bucket_ks_test,
    "agg_bucket_correlation": agg_bucket_correlation,
    "agg_nested_terms": agg_nested_terms,
    "rescore_topk": rescore_topk,
    "search_after_page": search_after_page,
    "geo_distance": geo_distance,
    "geo_bbox": geo_bbox,
    "agg_rare_terms": agg_rare_terms,
    "agg_multi_terms": agg_multi_terms,
    "agg_terms_order_metric": agg_terms_order_metric,
    "agg_adjacency_matrix": agg_adjacency_matrix,
    "agg_auto_date_histogram": agg_auto_date_histogram,
    "agg_geo_distance_rings": agg_geo_distance_rings,
    "agg_bucket_selector": agg_bucket_selector,
    "agg_max_bucket": agg_max_bucket,
    "match_count": match_count,
    "constant_score_topk": constant_score_topk,
    "near_dedup_survivors": near_dedup_survivors,
    "span_or_topk": span_or_topk,
    "span_not_topk": span_not_topk,
    "span_multi_topk": span_multi_topk,
    "dup_ngram_frac": dup_ngram_frac,
    "agg_percentile_ranks": agg_percentile_ranks,
    "agg_weighted_avg": agg_weighted_avg,
    "terms_lookup_topk": terms_lookup_topk,
    "agg_sampler_terms": agg_sampler_terms,
    "agg_diversified_sampler": agg_diversified_sampler,
    "agg_geohash_grid": agg_geohash_grid,
    "importance_score": importance_score,
    "analyze_text": analyze_text,
    "domain_mixture_weights": domain_mixture_weights,
    "mixture_resample": mixture_resample,
    "multifield_cross_topk": multifield_cross_topk,
    "phrase_suggest": phrase_suggest,
    "span_first_topk": span_first_topk,
    "pii_redact": pii_redact,
    "semdedup_keep": semdedup_keep,
    "chunk_dedup": chunk_dedup,
    "termvectors": termvectors,
    "bpe_pair_counts": bpe_pair_counts,
    "agg_geo_centroid": agg_geo_centroid,
    "agg_geo_bounds": agg_geo_bounds,
    "agg_matrix_stats": agg_matrix_stats,
    "agg_t_test": agg_t_test,
    "agg_boxplot": agg_boxplot,
    "agg_top_metrics": agg_top_metrics,
    "sliced_scan": sliced_scan,
    "scripted_metric_mad": scripted_metric_mad,
    "agg_stats_bucket": agg_stats_bucket,
    "agg_bucket_sort": agg_bucket_sort,
    "agg_serial_diff": agg_serial_diff,
    "agg_cumulative_cardinality": agg_cumulative_cardinality,
    "pinned_topk": pinned_topk,
    "rank_feature_topk": rank_feature_topk,
    "rank_feature_log_topk": rank_feature_log_topk,
    "rank_feature_sigmoid_topk": rank_feature_sigmoid_topk,
    "terms_set_topk": terms_set_topk,
    "distance_feature_topk": distance_feature_topk,
    "percolate_match": percolate_match,
    "combined_fields_topk": combined_fields_topk,
    "intervals_topk": intervals_topk,
    "rrf_hybrid_topk": rrf_hybrid_topk,
    "lm_cross_entropy": lm_cross_entropy,
    "bool_prefix_topk": bool_prefix_topk,
    "ids_query": ids_query,
    "exists_query": exists_query,
    "agg_moving_percentiles": agg_moving_percentiles,
    "ann_filtered_topk": ann_filtered_topk,
    "agg_frequent_item_sets": agg_frequent_item_sets,
    "script_score_topk": script_score_topk,
    "runtime_field_terms": runtime_field_terms,
    "span_containing_topk": span_containing_topk,
    "span_within_topk": span_within_topk,
    "ccnet_buckets": ccnet_buckets,
    "simple_qs_topk": simple_qs_topk,
    "agg_normalize": agg_normalize,
    "agg_rate": agg_rate,
    "eql_sequence_vp": eql_sequence_vp,
    "eql_sequence_until": eql_sequence_until,
    "ann_hard_negatives": ann_hard_negatives,
    "linear_hybrid_topk": linear_hybrid_topk,
    "transform_pivot_users": transform_pivot_users,
    "multimodal_frames": multimodal_frames,
    "multimodal_resize": multimodal_resize,
    "agg_string_stats": agg_string_stats,
    "eql_sequence3_vcp": eql_sequence3_vcp,
    "categorize_text_docs": categorize_text_docs,
    "ann_pq_topk": ann_pq_topk,
    "ann_int8_rescore": ann_int8_rescore,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "sparse_vector_topk": sparse_vector_topk,
    "multiphrase_topk": multiphrase_topk,
    "agg_global_bucket": agg_global_bucket,
    "rank_eval_bm25": rank_eval_bm25,
    "rerank_topk": rerank_topk,
    "nested_query_match": nested_query_match,
    "agg_reverse_nested": agg_reverse_nested,
    "lsh_recall_audit": lsh_recall_audit,
    "agg_change_point": agg_change_point,
    "fingerprint_keys": fingerprint_keys,
    "esql_stats": esql_stats,
    "esql_eval": esql_eval,
    "esql_enrich": esql_enrich,
    "esql_dissect": esql_dissect,
    "esql_median": esql_median,
    "esql_stats_where": esql_stats_where,
    "clf_quality_score": clf_quality_score,
    "match_msm75_topk": match_msm75_topk,
    "has_child_topk": has_child_topk,
    "has_parent_match": has_parent_match,
    "esql_grok": esql_grok,
    "esql_mv_expand": esql_mv_expand,
    "esql_inlinestats": esql_inlinestats,
    "esql_sample": esql_sample,
    "esql_lookup_join": esql_lookup_join,
    "esql_fork": esql_fork,
    "esql_fuse": esql_fuse,
    "esql_change_point": esql_change_point,
    "esql_where_in_like": esql_where_in_like,
    "esql_where_or": esql_where_or,
    "esql_null_sort": esql_null_sort,
    "esql_date_fns": esql_date_fns,
    "esql_string_fns": esql_string_fns,
    "esql_mv_fns": esql_mv_fns,
    "esql_mv_text": esql_mv_text,
    "esql_stats_ext": esql_stats_ext,
    "esql_row_math": esql_row_math,
    "bloom_decontaminate": bloom_decontaminate,
    "training_order": training_order,
    "agg_ip_range": agg_ip_range,
    "agg_ip_prefix": agg_ip_prefix,
    "agg_children": agg_children,
    "bpe_train_merges": bpe_train_merges,
    "bpe_encode_tokens": bpe_encode_tokens,
    "c4_line_filter": c4_line_filter,
    "host_cap_keep": host_cap_keep,
    "cluster_mixture_weights": cluster_mixture_weights,
    "exact_substring_dedup": exact_substring_dedup,
    "host_reputation_filter": host_reputation_filter,
    "pack_best_fit_pieces": pack_best_fit_pieces,
    "esql_bucket_stats": esql_bucket_stats,
    "esql_case": esql_case,
    "esql_count_distinct": esql_count_distinct,
    "esql_where_dates": esql_where_dates,
    "esql_eval_fns": esql_eval_fns,
    "bm25_topk_wand_filtered": bm25_topk_wand_filtered,
    "agg_date_range": agg_date_range,
    "agg_random_sampler": agg_random_sampler,
    "ann_similarity_topk": ann_similarity_topk,
    "ann_bit_hamming_topk": ann_bit_hamming_topk,
    "ann_bit_rescore": ann_bit_rescore,
    "agg_geo_line": agg_geo_line,
    "agg_bucket_script": agg_bucket_script,
    "geo_sort_topk": geo_sort_topk,
    "geo_polygon_query": geo_polygon_query,
    "completion_suggest": completion_suggest,
    "completion_suggest_fuzzy": completion_suggest_fuzzy,
    "completion_suggest_context": completion_suggest_context,
}
