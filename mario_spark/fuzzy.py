"""Multi-term queries: fuzzy, prefix, wildcard, regexp (Lucene
MultiTermQuery) — their dictionary expansions.

Mario's delegated engine answers `"fuzziness": N`, `prefix`,
`wildcard` and `regexp` queries out of the box on every text field.
Here every one of them runs one body, wand.Snapshot.search_multiterm:
the pattern expands against the snapshot's TermStats vocabulary, then
the expansion is scored as a disjunction with per-variant idf by the
standard WAND kernel (SCORING_BOOLEAN_REWRITE). This module holds the
expansions: the driver-side edit-distance predicates the TermStats
walk uses (levenshtein_le, is_transposition), and the Spark joins
(expand*) that are TermStats' deferred route for a pattern no
dictionary window bounds, and the tests' independent reference.

Semantics (documented precisely because engines differ):
- A query term expands to every DICTIONARY term within classic
  Levenshtein distance <= max_edits that shares its first
  `prefix_length` characters (ES `prefix_length`; Lucene counts a
  transposition as ONE edit — Damerau — while Spark's F.levenshtein
  and DuckDB's levenshtein are classic, so a transposition costs 2
  here on BOTH the engine and the oracle side). transpositions=True
  is Lucene's metric at distance 1 (OSA, expand_terms).
- The expanded set is scored as a disjunctive bool query, each
  variant with its own idf (Lucene MultiTermQuery
  SCORING_BOOLEAN_REWRITE); expansions are deduped per query.

Distributed shape: Lucene walks an FST automaton per shard; the
Spark-first equivalent is ONE pruned pass over the term dictionary —
an equi-join on the `prefix_length`-char prefix against the broadcast
query-term table (the prefix key prunes the scan the way the
automaton's first transition does), then a levenshtein filter. The
dictionary is ~vocab-sized (millions of rows at 10^12 docs), so this
is a metadata-scale job, never a corpus-scale one; the expansion
result is a handful of rows collected driver-side.
search_fuzzy_blended (Lucene's blended rewrite) stays an exhaustive
composition: its idf is blended per query, which a term-keyed
kernel cannot take.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mario_spark.session import local_frame


def levenshtein_le(a: str, b: str, limit: int) -> bool:
    """CLASSIC Levenshtein distance <= limit (matches Spark's
    F.levenshtein and DuckDB's levenshtein: transposition = 2 edits).
    Used by the driver-side expansion walk once per window term, so it
    MUST agree with the distributed join's semantics. limit <= 1 (every
    fuzzy query's default) is one linear scan; larger limits run a
    banded DP with early exit."""
    if abs(len(a) - len(b)) > limit:
        return False
    if limit == 0:
        return a == b
    if limit == 1:
        # one scan: past the common prefix the rest must agree after one
        # substitution, or one deletion from the longer string
        if len(a) < len(b):
            a, b = b, a
        i = 0
        while i < len(b) and a[i] == b[i]:
            i += 1
        return a[i + 1:] == b[i + (len(a) == len(b)):]
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != cb),
            )
            cur.append(v)
            row_min = min(row_min, v)
        if row_min > limit:
            return False
        prev = cur
    return prev[-1] <= limit


def is_transposition(a: str, b: str) -> bool:
    """True when `a` is `b` with ONE adjacent pair swapped: the pairs
    OSA distance 1 admits that classic Levenshtein prices at 2 (same
    length, exactly two mismatches, adjacent, crosswise-equal). The
    driver-side twin of _TRANSPOSITION_EXPR."""
    if len(a) != len(b):
        return False
    diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    return (
        len(diff) == 2 and diff[1] == diff[0] + 1
        and a[diff[0]] == b[diff[1]] and a[diff[1]] == b[diff[0]]
    )


# OSA-distance-1 "extra" predicate: the pairs Damerau admits at one
# edit that classic Levenshtein prices at 2 — exactly the adjacent
# transpositions. Same length, EXACTLY two mismatch positions, adjacent,
# crosswise-equal. Pure Spark codegen (no Python, no UDF); DuckDB's
# builtin damerau_levenshtein plays oracle.
_TRANSPOSITION_EXPR = (
    "(length(term) = length(qterm) AND ("
    "  size(filter(sequence(1, length(term)),"
    "       i -> substring(term, i, 1) != substring(qterm, i, 1))) = 2"
    ") AND ("
    "  try_element_at(filter(sequence(1, length(term)),"
    "       i -> substring(term, i, 1) != substring(qterm, i, 1)), 1) + 1 ="
    "  try_element_at(filter(sequence(1, length(term)),"
    "       i -> substring(term, i, 1) != substring(qterm, i, 1)), 2)"
    ") AND ("
    "  substring(term, try_element_at(filter(sequence(1, length(term)),"
    "       i -> substring(term, i, 1) != substring(qterm, i, 1)), 1), 2) ="
    "  reverse(substring(qterm, try_element_at(filter(sequence(1, length(term)),"
    "       i -> substring(term, i, 1) != substring(qterm, i, 1)), 1), 2))"
    "))"
)


def expand_terms(
    dictionary: DataFrame,
    query_terms: DataFrame,
    max_edits: int = 1,
    prefix_length: int = 1,
    transpositions: bool = False,
) -> DataFrame:
    """(query_id, term) -> (query_id, term, df) over dictionary terms
    within `max_edits` (classic Levenshtein) sharing the first
    `prefix_length` chars. prefix_length=0 degrades to a full-vocab
    scan per term (ES's default, costlier — the join key becomes '').

    transpositions=True is LUCENE'S ACTUAL default edit metric at
    max_edits=1: an adjacent transposition counts as ONE edit (Damerau
    / OSA — Lucene FuzzyQuery transpositions=true, what ES `fuzziness`
    really means; OSA == full Damerau-Levenshtein at distance 1, so
    DuckDB's damerau_levenshtein oracle agrees exactly; at distance
    >= 2 the variants diverge). OSA<=1 decomposes as: classic
    levenshtein <= 1, OR the adjacent-transposition structure
    (_TRANSPOSITION_EXPR) — both pure codegen, so the dictionary pass
    stays JVM-side.
    """
    pfx = lambda c: F.substring(c, 1, prefix_length)  # noqa: E731
    q = query_terms.select(
        "query_id", F.col("term").alias("qterm"), pfx("term").alias("pfx")
    )
    d = dictionary.withColumn("pfx", pfx("term"))
    near = F.levenshtein("term", "qterm") <= max_edits
    if transpositions:
        near = near | F.expr(_TRANSPOSITION_EXPR)
    return (
        d.join(F.broadcast(q), "pfx")
        .filter(near)
        .select("query_id", "term", "df")
        .dropDuplicates(["query_id", "term"])
    )


def suggest_terms(
    dictionary: DataFrame,
    inputs: list[str],
    max_edits: int = 2,
    size: int = 3,
    mode: str = "always",
) -> DataFrame:
    """ES term suggester ("did you mean"): for each input term, the
    top-`size` dictionary terms within `max_edits` CLASSIC Levenshtein
    edits (distance >= 1: exact hits need no suggestion), ranked by
    distance ASC, then df DESC (ES sort=frequency within equal score),
    then term ASC. One dictionary pass against the broadcast inputs;
    the cheap length-difference band prunes before the DP distance
    runs, all JVM-side codegen (F.levenshtein). Returns
    (input, rank, suggestion, dist, df).

    mode="popular" (ES suggest_mode=popular): only suggest terms MORE
    frequent than the input term — the input's own df (0 when absent
    from the index) gates every candidate. The gate is one broadcast
    join of the tiny input-df table; everything else is unchanged.

    mode="missing" (ES default suggest_mode): suggest ONLY for inputs
    absent from the index — an input that exists as a term gets no
    rows. Same tiny broadcast anti-join gate."""
    spark = dictionary.sparkSession
    inp = local_frame(spark, [(t,) for t in inputs], "input string")
    cand = (
        dictionary.join(
            F.broadcast(inp),
            F.abs(F.length("term") - F.length("input")) <= max_edits,
        )
        .withColumn("dist", F.levenshtein("input", "term").cast("long"))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_edits))
    )
    if mode == "popular":
        in_df = inp.join(
            dictionary.select(F.col("term").alias("input"),
                              F.col("df").alias("input_df")),
            "input",
            "left",
        ).withColumn("input_df", F.coalesce("input_df", F.lit(0)))
        cand = cand.join(F.broadcast(in_df), "input").filter(
            F.col("df") > F.col("input_df")
        )
    elif mode == "missing":
        absent = inp.join(
            dictionary.select(F.col("term").alias("input")),
            "input",
            "left_anti",
        )
        cand = cand.join(F.broadcast(absent), "input")
    elif mode != "always":
        raise ValueError(f"unknown suggest mode {mode!r}")
    from pyspark.sql import Window

    w = Window.partitionBy("input").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= size)
        .select(
            "input",
            "rank",
            F.col("term").alias("suggestion"),
            "dist",
            F.col("df").cast("long").alias("df"),
        )
    )


def expand_prefix(
    dictionary: DataFrame, query_terms: DataFrame
) -> DataFrame:
    """ES prefix query expansion: dictionary terms starting with the
    query string. One dictionary pass with the broadcast query table —
    the per-shard term-walk an ES prefix query does, as a join."""
    q = F.broadcast(
        query_terms.select("query_id", F.col("term").alias("qterm"))
    )
    return (
        dictionary.join(q, F.col("term").startswith(F.col("qterm")))
        .select("query_id", "term", "df")
        .dropDuplicates(["query_id", "term"])
    )


def expand_wildcard(
    dictionary: DataFrame, query_terms: DataFrame
) -> DataFrame:
    """ES wildcard query expansion: `*` = any run, `?` = one char, the
    pattern must match the WHOLE term. Translated to SQL LIKE
    (% and _) and evaluated in one dictionary pass. Patterns are
    analyzer tokens plus * and ? — no % or _ can occur in them, so the
    translation is injective."""
    q = F.broadcast(
        query_terms.select(
            "query_id",
            F.col("term").alias("qpat"),
            F.translate(F.col("term"), "*?", "%_").alias("qlike"),
        )
    )
    return (
        dictionary.join(q, F.expr("term LIKE qlike"))
        .select("query_id", "term", "df")
        .dropDuplicates(["query_id", "term"])
    )


def expand_regexp(
    dictionary: DataFrame, query_terms: DataFrame
) -> DataFrame:
    """ES regexp query expansion: the pattern must match the WHOLE
    term (Lucene RegexpQuery semantics — anchored on both ends), one
    dictionary pass with the broadcast pattern table. Patterns are
    kept to the Java-regex/RE2 common subset so the DuckDB oracle
    (regexp_full_match) agrees by construction."""
    q = F.broadcast(
        query_terms.select(
            "query_id",
            F.concat(F.lit("^(?:"), F.col("term"), F.lit(")$")).alias("qre"),
        )
    )
    return (
        dictionary.join(q, F.regexp_like(F.col("term"), F.col("qre")))
        .select("query_id", "term", "df")
        .dropDuplicates(["query_id", "term"])
    )


def expand(
    kind: str,
    dictionary: DataFrame,
    query_terms: DataFrame,
    max_edits: int = 1,
    prefix_length: int = 1,
    transpositions: bool = False,
) -> DataFrame:
    """(query_id, raw pattern) -> (query_id, term, df): the `kind`
    expansion (fuzzy | prefix | wildcard | regexp), one dictionary
    pass. transpositions=True is the OSA <= 1 fuzzy expansion
    (expand_terms)."""
    if kind == "fuzzy":
        return expand_terms(
            dictionary, query_terms, max_edits, prefix_length, transpositions
        )
    fns = {
        "prefix": expand_prefix,
        "wildcard": expand_wildcard,
        "regexp": expand_regexp,
    }
    if kind not in fns:
        raise ValueError(
            f"kind must be fuzzy|prefix|wildcard|regexp, got {kind!r}"
        )
    return fns[kind](dictionary, query_terms)


def phrase_suggest(
    documents_tokens: DataFrame,
    dictionary: DataFrame,
    inputs: list[tuple[int, list[str]]],
    max_edits: int = 1,
    per_position: int = 3,
    size: int = 2,
) -> DataFrame:
    """ES phrase suggester (direct-generator + collate, bigram form):
    per input position, candidate corrections = dictionary terms within
    `max_edits` CLASSIC Levenshtein edits INCLUDING the term itself
    (dist 0), top-`per_position` by (dist asc, df desc, term asc); the
    per-input cross product forms candidate phrases, each COLLATED
    against the corpus (real bigram chain frequency — ES collate
    prune=true drops candidates that never occur) and ranked by
    (freq desc, total edit distance asc, phrase asc), top-`size`.
    -> (input_id, rank, suggestion, freq, tot_dist).

    Distribution: the candidate generation is one banded dictionary
    pass (broadcast inputs, JVM levenshtein); the collate is ONE corpus
    scan aggregating every candidate phrase's chain count as parallel
    codegen sums. The <= inputs*per_position^2 candidate rows in
    between live on the driver — exactly the ES coordinating-node role.

    `documents_tokens` = (doc_id, arr) analyzed token arrays;
    `inputs` = [(input_id, [terms])] (bigrams)."""
    from pyspark.sql import Window

    from mario_spark.qs import _chain_ctf_expr

    spark = dictionary.sparkSession
    rows = [
        (iid, pos, t)
        for iid, terms in inputs
        for pos, t in enumerate(terms)
    ]
    inp = local_frame(spark, rows, "input_id long, pos int, input string")
    cand = (
        dictionary.join(
            F.broadcast(inp),
            F.abs(F.length("term") - F.length("input")) <= max_edits,
        )
        .withColumn("dist", F.levenshtein("input", "term").cast("long"))
        .filter(F.col("dist") <= max_edits)
    )
    w = Window.partitionBy("input_id", "pos").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    picked = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_position)
        .select("input_id", "pos", "term", "dist")
        .collect()
    )
    by_pos: dict[tuple[int, int], list] = {}
    for r in picked:
        by_pos.setdefault((r["input_id"], r["pos"]), []).append(
            (r["term"], int(r["dist"]))
        )
    phrases: list[tuple[int, str, str, int]] = []
    for iid, terms in inputs:
        for t0, d0 in by_pos.get((iid, 0), []):
            for t1, d1 in by_pos.get((iid, 1), []):
                phrases.append((iid, t0, t1, d0 + d1))
    if not phrases:
        return local_frame(
            spark,
            [],
            "input_id long, rank long, suggestion string, "
            "freq long, tot_dist long",
        )
    aggs = [
        F.coalesce(
            F.sum(_chain_ctf_expr(F.col("arr"), [t0, t1])), F.lit(0)
        ).cast("long").alias(f"_p{i}")
        for i, (_, t0, t1, _) in enumerate(phrases)
    ]
    row = documents_tokens.agg(*aggs).collect()[0]
    out = []
    for i, (iid, t0, t1, td) in enumerate(phrases):
        freq = int(row[f"_p{i}"])
        if freq > 0:  # collate prune
            out.append((iid, f"{t0} {t1}", freq, td))
    out.sort(key=lambda r: (r[0], -r[2], r[3], r[1]))
    ranked, last_iid, rk = [], None, 0
    for iid, sug, freq, td in out:
        rk = rk + 1 if iid == last_iid else 1
        last_iid = iid
        if rk <= size:
            ranked.append((iid, rk, sug, freq, td))
    return local_frame(
        spark,
        ranked,
        "input_id long, rank long, suggestion string, "
        "freq long, tot_dist long",
    )


def search_fuzzy_blended(
    docs: DataFrame,
    query_terms: DataFrame,
    max_edits: int = 1,
    prefix_length: int = 1,
    k: int = 10,
) -> DataFrame:
    """Lucene's DEFAULT fuzzy rewrite — top_terms_blended_freqs_N
    (BlendedTermQuery): every expansion in a query's blend group scores
    with the GROUP's max df, so a rare typo variant ("joim", df 3)
    cannot out-idf the common intended term ("join", df 2000) — the
    documented reason BlendedTermQuery exists. Docs matching several
    variants still sum their contributions (boolean rewrite of the
    blended terms). wand.Snapshot.search_multiterm keeps the
    per-variant-idf SCORING_BOOLEAN_REWRITE alternative.

    Exhaustive DataFrame path: ONE dictionary pass for the expansion,
    the (query, term, blended idf) dim broadcast into the tf stream,
    partial+final agg — same plan as a plain OR query.
    """
    from mario_spark.docs import corpus_stats
    from mario_spark.query import (
        bm25_contrib,
        bm25_idf,
        doc_frequencies,
        term_frequencies,
        topk,
    )

    tf = term_frequencies(docs)
    dfreq = doc_frequencies(tf)
    stats = corpus_stats(docs)
    exp = expand_terms(dfreq, query_terms, max_edits, prefix_length)
    blend = exp.groupBy("query_id").agg(F.max("df").alias("bdf"))
    q_idf = (
        exp.select("query_id", "term")
        .join(blend, "query_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            bm25_idf("n_docs", "bdf"),
        )
        .select("query_id", "term", "idf", "avgdl")
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .withColumn(
            "contrib",
            bm25_contrib("idf", "tf", "len", "avgdl"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k)
