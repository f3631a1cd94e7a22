"""Field-scoped full-text search (per-field inverted index + BM25).

ES lets a query target any single analyzed field (`title:` vs
`contents:`) with that field's OWN statistics — every `"type":"text"`
field in /root/reference/config/es_record_mappings.json:33-401 is an
independent Lucene inverted index with per-field df and avgFieldLength.
mario relies on this contractually; round 1 indexed one concatenated
`searchable_text` blob, which cannot answer a field-scoped query.

Spark-first design — ONE postings table, field-prefixed terms:

- The posting key becomes `"<field>:<term>"` (tokens are Unicode
  letters/digits only, so ':' can never collide with token content).
  This reuses the existing block codec, dictionary, WAND kernel and —
  critically — the same scan pruning: a field-scoped query filters
  postings on the prefixed term, which pushes to parquet exactly like
  the unscoped path. No second table, no schema fork, no extra shuffle:
  the per-(term, dbucket) build shuffle just carries a slightly longer
  key.
- Per-field BM25 statistics follow Lucene exactly: df falls out of the
  prefixed dictionary for free; (n_docs, avgdl) are computed PER FIELD
  over docs that have at least one token in that field (Lucene's
  docCount/avgFieldLength exclude docs missing the field).
- Multi-field (§2 B10: text + keyword sibling) stays what it was —
  keyword variants are materialized columns; this module covers the
  analyzed variants.

Scale: k fields multiply the tf stream by the fields' combined token
count (title is tiny next to contents), and the dbucket grid bounds
per-task group size exactly as before. Queries touch one field's terms
only, so query-time cost is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mario_spark.analyze import tokenize_count_udf
from mario_spark.docs import assign_doc_ids
from mario_spark.postings import (
    dictionary_from_postings,
    encode_tf_rows,
    idf,
    pick_range_width,
)
from mario_spark.query import (
    bm25_contrib,
    bm25_idf,
    bm25_scores,
    empty_result,
    topk,
)

FIELD_SEP = ":"


def build_field_doc_table(
    pages: DataFrame,
    fields: dict[str, "F.Column"],
    positions: bool = False,
    analyzers: dict[str, str] | None = None,
) -> DataFrame:
    """pages -> (doc_id, field, tf_map|pos_map, len): one row per doc
    per field.

    `fields` maps field name -> Column expression producing that field's
    text (e.g. {"title": F.substring("text", 1, 64), "contents":
    F.col("text")}). Each field runs through the same fused
    tokenize+count pandas UDF as the unscoped path.

    positions=True swaps in the positional tokenizer (pos_map =
    map<term, [token ordinals]>, ordinals are per-FIELD, starting at 0
    in each field — Lucene's per-field position streams): downstream
    field_tf emits the positions column and the encoder produces the
    poss stream, so a field index can answer field-scoped match_phrase.
    """
    from mario_spark.analyze import shingle_count_udf, tokenize_positions_udf

    d = pages
    if "doc_id" not in d.columns:
        d = assign_doc_ids(d)
    map_col = "pos_map" if positions else "tf_map"
    analyzers = analyzers or {}

    def _map_expr(name, expr):
        # analyzer 'shingle' = Lucene ShingleFilter(2,2) — the hidden
        # sub-field ES creates for `index_phrases: true`. Positions make
        # no sense on a shingle (the shingle IS the position pair); in a
        # positions=True index the shingle field stores a zeroed ordinal
        # array whose SIZE carries the tf, keeping the union schema
        # uniform — phrase queries target the positional fields.
        if analyzers.get(name) == "shingle":
            m = shingle_count_udf(expr)
            if positions:
                return F.transform_values(
                    m, lambda _, v: F.array_repeat(F.lit(0), v)
                )
            return m
        tok = tokenize_positions_udf if positions else tokenize_count_udf
        return tok(expr)

    per_field = [
        d.select(
            "doc_id",
            F.lit(name).alias("field"),
            _map_expr(name, expr).alias(map_col),
        )
        for name, expr in fields.items()
    ]
    out = per_field[0]
    for p in per_field[1:]:
        out = out.unionByName(p)
    if positions:
        return out.withColumn(
            "len",
            F.aggregate(
                F.map_values("pos_map"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.size(x).cast("long"),
            ),
        )
    return out.withColumn(
        "len",
        F.aggregate(
            F.map_values("tf_map"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ),
    )


def field_tf(fdocs: DataFrame) -> DataFrame:
    """(doc_id, field, tf_map|pos_map, len) -> tf rows with
    field-prefixed terms.

    JVM map-explode (no shuffle), identical to query.term_frequencies
    but the emitted term is `<field>:<term>` and len is the FIELD len.
    A positional field table (pos_map) emits the positions column so
    encode_tf_rows produces the poss stream.
    """
    if "pos_map" in fdocs.columns:
        return fdocs.select(
            "doc_id",
            "len",
            F.explode("pos_map").alias("raw_term", "positions"),
            "field",
        ).select(
            "doc_id",
            F.concat_ws(FIELD_SEP, "field", "raw_term").alias("term"),
            F.size("positions").cast("double").alias("tf"),
            "len",
            "positions",
        )
    return fdocs.select(
        "doc_id",
        "len",
        F.explode("tf_map").alias("raw_term", "tf"),
        "field",
    ).select(
        "doc_id",
        F.concat_ws(FIELD_SEP, "field", "raw_term").alias("term"),
        F.col("tf").cast("double").alias("tf"),
        "len",
    )


def field_stats(fdocs: DataFrame) -> DataFrame:
    """-> (field, n_docs, avgdl) over docs with >= 1 token in the field
    (Lucene docCount/avgFieldLength semantics)."""
    return (
        fdocs.filter(F.col("len") > 0)
        .groupBy("field")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.avg("len").alias("avgdl"),
        )
    )


def build_field_postings(
    fdocs: DataFrame,
    n_docs: int,
    range_width: int | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Encode the multi-field tf stream into the standard block format.

    Same ONE-shuffle pipeline as postings.build_postings; the dictionary
    keyed by prefixed term IS the per-field df table.
    """
    spark = fdocs.sparkSession
    rw = range_width or pick_range_width(
        n_docs, spark.sparkContext.defaultParallelism
    )
    enc = encode_tf_rows(field_tf(fdocs), rw)
    return enc, dictionary_from_postings(enc), rw


def search_multi_field(
    fdocs: DataFrame,
    query_terms: DataFrame,
    boosts: dict[str, float],
    k: int = 10,
    combine: str = "sum",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES multi_match over analyzed fields with per-field boosts:

    - combine='sum'    -> most_fields: score = Σ_f boost_f * BM25_f
    - combine='max'    -> best_fields (dis_max, tie_breaker=0):
                          score = max_f boost_f * BM25_f
    - combine='dismax' -> dis_max with tie_breaker:
                          score = max + tie_breaker * (sum - max)
                          (Lucene DisjunctionMaxQuery: the best field
                          dominates, other fields break ties)

    Each field is scored EXHAUSTIVELY with its own Lucene-style stats
    (df, docCount, avgFieldLength) — combining per-field top-k lists
    would be wrong (a winning doc can sit outside one field's top-k),
    so the field frames carry full candidate scores; they are still
    term-pruned by the broadcast query join, so the frame size is
    bounded by the queried terms' postings, not the corpus. The union
    is one groupBy(query_id, doc_id) away from the final rank.
    """
    if combine not in ("sum", "max", "dismax"):
        raise ValueError(
            f"combine must be 'sum', 'max' or 'dismax', got {combine!r}"
        )
    parts = []
    for field, boost in boosts.items():
        fd = fdocs.filter(F.col("field") == field).filter(F.col("len") > 0)
        tf = fd.select(
            "doc_id",
            "len",
            F.explode("tf_map").alias("term", "raw_tf"),
        ).select(
            "doc_id", "term", F.col("raw_tf").cast("double").alias("tf"), "len"
        )
        dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
        stats = fd.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("len").alias("avgdl"),
        )
        scored = bm25_scores(tf, dfreq, stats, query_terms)
        parts.append(
            scored.select(
                "query_id",
                "doc_id",
                (F.col("score") * float(boost)).alias("fscore"),
            )
        )
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    g = allf.groupBy("query_id", "doc_id").agg(
        F.sum("fscore").alias("s"), F.max("fscore").alias("m")
    )
    if combine == "sum":
        score = F.col("s")
    elif combine == "max":
        score = F.col("m")
    else:
        score = F.col("m") + float(tie_breaker) * (F.col("s") - F.col("m"))
    combined = g.select("query_id", "doc_id", score.alias("score"))
    return topk(combined, k=k)


def search_cross_fields(
    fdocs: DataFrame,
    query_terms: DataFrame,
    boosts: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """ES multi_match type=cross_fields (term-centric, Lucene
    BlendedTermQuery): the searched fields act as ONE field per term —
    df is blended to the MAX df across fields (capped at each field's
    docCount, as BlendedTermQuery caps at maxDoc), each (term, field)
    scores BM25 with the blended idf but the FIELD's own length
    normalization and boost, the best field wins per (query, term, doc)
    (per-term dis_max, tie_breaker=0), and the doc score is the sum
    over query terms. This fixes most_fields' failure mode where a term
    rare in one field gets an inflated idf there ("albino elephant").

    Plan shape: per-field tf frames are term-pruned by the broadcast
    (query ⋈ blended-df) dim; the per-term max and per-doc sum are two
    hash aggs over candidates only."""
    per_field, df_frames = [], []
    for field, boost in boosts.items():
        fd = fdocs.filter(F.col("field") == field).filter(F.col("len") > 0)
        tf = fd.select(
            "doc_id", "len", F.explode("tf_map").alias("term", "raw_tf")
        ).select(
            "doc_id", "term", F.col("raw_tf").cast("double").alias("tf"), "len"
        )
        dfreq = tf.groupBy("term").agg(
            F.count("*").cast("double").alias("df")
        )
        st = fd.agg(
            F.count("*").cast("double").alias("n"), F.avg("len").alias("a")
        ).collect()[0]
        per_field.append((field, float(boost), tf, float(st["n"]), float(st["a"])))
        df_frames.append(dfreq)
    bdf = df_frames[0]
    for d in df_frames[1:]:
        bdf = bdf.unionByName(d)
    bdf = bdf.groupBy("term").agg(F.max("df").alias("bdf"))
    parts = []
    for field, boost, tf, n_docs, avgdl in per_field:
        qd = (
            query_terms.join(bdf, "term")
            .withColumn("dfc", F.least(F.col("bdf"), F.lit(n_docs)))
            .withColumn(
                "idf",
                bm25_idf(F.lit(n_docs), "dfc"),
            )
            .select("query_id", "term", "idf")
        )
        scored = tf.join(F.broadcast(qd), "term").select(
            "query_id",
            "term",
            "doc_id",
            bm25_contrib(
                F.lit(boost) * F.col("idf"), "tf", "len", avgdl
            ).alias("c"),
        )
        parts.append(scored)
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    best = allf.groupBy("query_id", "term", "doc_id").agg(
        F.max("c").alias("c")
    )
    total = best.groupBy("query_id", "doc_id").agg(F.sum("c").alias("score"))
    return topk(total, k=k)


def search_combined_fields(
    fdocs: DataFrame,
    query_terms: DataFrame,
    weights: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """ES combined_fields query (Lucene CombinedFieldQuery — the
    principled BM25F successor to cross_fields): the fields are merged
    into ONE pseudo-field BEFORE scoring, per Robertson et al.'s simple
    BM25F:

        tf_c(t, d)  = sum_f w_f * tf_f(t, d)
        len_c(d)    = sum_f w_f * len_f(d)
        df_c(t)     = |{d : t in ANY field of d}|
        n/avgdl     = over docs with len_c > 0
        score       = sum_t idf(df_c) * sat(tf_c, len_c)

    One idf per term (no per-field idf inflation — the same
    albino-elephant fix as cross_fields but statistically sound), one
    saturation over the weighted tf, so k occurrences split across
    fields score like k occurrences in one field. Lucene requires all
    combined fields to share one analyzer; fdocs guarantees that by
    construction.

    Plan shape: per-field tf explodes union into ONE (doc, term) hash
    agg (map-side combinable), the combined doc-length dim joins on
    doc_id, and the tiny (query, term, idf) dim broadcasts onto the
    combined tf — the same single-shuffle-then-broadcast skeleton as
    plain BM25; field count multiplies only the pre-agg map side.
    """
    tf_parts, len_parts = [], []
    for field, w in weights.items():
        fd = fdocs.filter(F.col("field") == field)
        tf_parts.append(
            fd.select(
                "doc_id", F.explode("tf_map").alias("term", "raw_tf")
            ).select(
                "doc_id",
                "term",
                (F.lit(float(w)) * F.col("raw_tf")).alias("wtf"),
            )
        )
        len_parts.append(
            fd.select(
                "doc_id", (F.lit(float(w)) * F.col("len")).alias("wlen")
            )
        )
    tfu = tf_parts[0]
    for p in tf_parts[1:]:
        tfu = tfu.unionByName(p)
    ctf = tfu.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    lnu = len_parts[0]
    for p in len_parts[1:]:
        lnu = lnu.unionByName(p)
    clen = (
        lnu.groupBy("doc_id")
        .agg(F.sum("wlen").alias("len"))
        .filter(F.col("len") > 0)
    )
    stats = clen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    dfreq = ctf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
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
        ctf.join(F.broadcast(q_idf), "term")
        .join(clen, "doc_id")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k=k)


def search_multi_phrase(
    pages: DataFrame,
    fields: dict[str, "F.Column"],
    queries: list[tuple[int, list[str]]],
    boosts: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """ES multi_match type=phrase: the phrase runs against EVERY
    field, each field scoring it as Lucene PhraseWeight with its OWN
    stats (df per field, per-field docCount/avgFieldLength), combined
    best-field (dis_max, tie_breaker=0) like the phrase type does.

    Execution: one tokenized array per field (shared scan), chain
    frequency as pure codegen per (field, query), per-field idf sums
    from per-field dfs — no kernel, no positional postings needed for
    the composition layer (the persisted path is
    Index.search_phrase(field=...)).
    """
    from mario_spark.analyze import tokenize_udf
    from mario_spark.qs import _chain_ctf_expr

    parts = []
    for fname, expr in fields.items():
        boost = float(boosts.get(fname, 1.0))
        toks = pages.select(
            "doc_id", tokenize_udf(expr).alias("arr")
        ).filter(F.size("arr") > 0)
        dl = toks.select("doc_id", F.size("arr").cast("double").alias("len"))
        st = dl.agg(
            F.count("*").cast("double").alias("n"), F.avg("len").alias("a")
        ).collect()[0]
        n_docs, avgdl = float(st["n"]), float(st["a"])
        tf = (
            toks.select("doc_id", F.explode("arr").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        dfreq = {
            r["term"]: float(r["n"])
            for r in tf.groupBy("term")
            .agg(F.count("*").alias("n"))
            .join(
                F.broadcast(
                    pages.sparkSession.createDataFrame(
                        [(t,) for q in queries for t in q[1]], "term string"
                    ).distinct()
                ),
                "term",
            )
            .collect()
        }
        for qid, terms in queries:
            if any(t not in dfreq for t in terms):
                continue  # phrase needs every term present in the field
            sidf = sum(idf(n_docs, dfreq[t]) for t in terms)
            ctf = _chain_ctf_expr(F.col("arr"), terms).cast("double")
            parts.append(
                toks.select(
                    F.lit(qid).cast("long").alias("query_id"),
                    "doc_id",
                    bm25_contrib(
                        F.lit(boost) * F.lit(sidf),
                        ctf,
                        F.size("arr").cast("double"),
                        avgdl,
                    ).alias("c"),
                    ctf.alias("ctf"),
                ).filter(F.col("ctf") > 0)
            )
    if not parts:
        return empty_result(pages.sparkSession)
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    best = allf.groupBy("query_id", "doc_id").agg(F.max("c").alias("score"))
    return topk(best, k=k)
