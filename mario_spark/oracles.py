"""DuckDB oracle SQL for the driver-contract suite.

Every statement here must be semantically identical (and, after the
documented rounding, value-identical) to the matching Spark callable in
mario_spark.suite. Tables region nation customer supplier part orders
lineitem events documents embeddings are pre-registered DuckDB views.
"""

from __future__ import annotations

from mario_spark.analyze import py_tokenize
from mario_spark.fixtures import DOCUMENTS_QUERY_SET, DOCUMENTS_SQS_SET

# Same token class as analyze.TOKEN_RE, in RE2 syntax.
_TOK = r"[\p{L}\p{N}]+"

_TOKS_CTE = f"""
toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')) AS term
  FROM documents
)"""


def _mustnot_set() -> list[tuple[int, str]]:
    from mario_spark.fixtures import DOCUMENTS_MUSTNOT_SET

    return DOCUMENTS_MUSTNOT_SET


def _near_set() -> list[tuple[int, str]]:
    from mario_spark.fixtures import DOCUMENTS_NEAR_SET

    return DOCUMENTS_NEAR_SET


def _query_values() -> str:
    rows = []
    for qid, qtext in DOCUMENTS_QUERY_SET:
        for t in dict.fromkeys(py_tokenize(qtext)):
            rows.append(f"({qid}, '{t}')")
    return ", ".join(rows)


DOC_LENGTHS = f"""
SELECT doc_id,
       coalesce(len(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')), 0)::BIGINT AS len
FROM documents
"""

TERM_DF = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
"""

CORPUS_STATS = f"""
WITH dl AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')), 0)::DOUBLE AS len
  FROM documents
)
SELECT count(*)::BIGINT AS n_docs, round(avg(len), 6) AS avgdl FROM dl
"""


def bm25_topk_sql(
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    conjunctive: bool = False,
    must_not: list[tuple[int, str]] | None = None,
    msm: int = 1,
    filter_sql: str | None = None,
) -> str:
    """BM25 top-k oracle; conjunctive = ES bool.must, must_not = ES
    bool.must_not (per-query excluded terms, filter context), msm = ES
    minimum_should_match over the OR terms, filter_sql = a doc_id
    subquery joined as ES filter context (restricts results, never
    stats)."""
    excl_cte = ""
    joins, conds = [], []
    if filter_sql:
        joins.append(f"SEMI JOIN ({filter_sql}) fd USING (doc_id)")
    if conjunctive:
        joins.append("JOIN qn USING (query_id)")
        conds.append("nt = qn")
    elif msm > 1:
        conds.append(f"nt >= {msm}")
    if must_not:
        nrows = []
        for qid, ntext in must_not:
            for t in py_tokenize(ntext):
                nrows.append(f"({qid}, '{t}')")
        excl_cte = f"""
nq(query_id, term) AS (VALUES {", ".join(nrows)}),
excl AS (
  SELECT DISTINCT nq.query_id::BIGINT AS query_id, tf.doc_id
  FROM nq JOIN tf USING (term)
),"""
        joins.append("ANTI JOIN excl USING (query_id, doc_id)")
    flt = f"""
flt AS (
  SELECT sc.* FROM sc
  {" ".join(joins)}
  WHERE {" AND ".join(conds) if conds else "TRUE"}
),"""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(DISTINCT term) AS qn FROM q GROUP BY 1),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw,
         count(DISTINCT tf.term) AS nt
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),{excl_cte}
{flt}
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM flt
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def function_score_sql(
    boost_sql: str, k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """ES function_score boost_mode=multiply oracle: final score =
    round(BM25_raw * boost, 4); `boost_sql` is a (doc_id, boost)
    subquery. Mirrors query.search_function_score exactly."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
bst AS ({boost_sql}),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT sc.query_id, sc.doc_id, round(sc.raw * bst.boost, 4) AS score,
         row_number() OVER (PARTITION BY sc.query_id
                            ORDER BY round(sc.raw * bst.boost, 4) DESC,
                                     sc.doc_id ASC) AS rank
  FROM sc JOIN bst USING (doc_id)
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def more_like_this_sql(
    seeds: list[int],
    max_query_terms: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """ES more_like_this oracle: per seed doc, top tf*idf terms
    (round(w, 6) DESC, term ASC — same determinism convention as the
    Spark side), then standard BM25 OR scoring excluding the seed.
    Mirrors query.more_like_this exactly."""
    seed_list = ", ".join(str(int(s)) for s in seeds)
    return f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
seedw AS (
  SELECT tf.doc_id AS query_id, tf.term,
         round(tf.tf * ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)), 6) AS w
  FROM tf JOIN dfr USING (term) CROSS JOIN st
  WHERE tf.doc_id IN ({seed_list})
),
q AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY w DESC, term ASC) AS r
    FROM seedw
  ) WHERE r <= {max_query_terms}
),
sc AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  WHERE tf.doc_id != q.query_id
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def bm25_field_sql(
    field_expr: str, k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """Field-scoped BM25: tokenize `field_expr` instead of text; stats
    (n_docs, avgdl, df) are the FIELD's own — docs with zero tokens in
    the field drop out of dl, matching Lucene docCount semantics and
    mario_spark.fields.field_stats."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize({field_expr})), '{_TOK}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def multiterm_topk_sql(
    qrows: list[tuple[int, str]],
    match_cond: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Multi-term-query oracle (fuzzy / prefix / wildcard): expand each
    query string against the term dictionary via `match_cond` (SQL
    boolean over dfr.term and fq.qterm), dedupe per query, score the
    expansion as a disjunction with per-variant idf. Mirrors
    wand.Snapshot.search_multiterm exactly."""
    rows = [f"({qid}, '{q}')" for qid, q in qrows]
    return f"""
WITH fq(query_id, qterm) AS (VALUES {", ".join(rows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
exp AS (
  SELECT DISTINCT fq.query_id, dfr.term
  FROM fq JOIN dfr ON {match_cond}
),
sc AS (
  SELECT exp.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM exp
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def multifield_topk_sql(
    fields: list[tuple[str, str, float]],
    combine: str = "sum",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tie_breaker: float = 0.0,
) -> str:
    """ES multi_match oracle: per-field BM25 with the field's OWN
    docCount/avgFieldLength/df, boosted, then combined per (query, doc)
    by sum (most_fields), max (best_fields, tie_breaker=0), or dismax
    (max + tie_breaker * (sum - max)). `fields` is
    [(name, sql_text_expr, boost)]. Mirrors fields.search_multi_field
    exactly."""
    ctes, unions = [], []
    for name, expr, boost in fields:
        ctes.append(f"""
toks_{name} AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize({expr})), '{_TOK}')) AS term
  FROM documents
),
tf_{name} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks_{name} GROUP BY 1, 2),
dl_{name} AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks_{name} GROUP BY 1),
st_{name} AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl_{name}),
dfr_{name} AS (SELECT term, count(*)::DOUBLE AS df FROM tf_{name} GROUP BY 1),
sc_{name} AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf_{name} tf USING (term)
  JOIN dfr_{name} dfr USING (term)
  JOIN dl_{name} dl ON tf.doc_id = dl.doc_id
  CROSS JOIN st_{name} st
  GROUP BY 1, 2
)""")
        unions.append(
            f"SELECT query_id, doc_id, raw * {boost} AS fscore FROM sc_{name}"
        )
    if combine == "sum":
        agg = "sum(fscore)"
    elif combine == "max":
        agg = "max(fscore)"
    else:
        agg = (
            f"max(fscore) + {tie_breaker} * (sum(fscore) - max(fscore))"
        )
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{", ".join(ctes)},
sc_all AS ({" UNION ALL ".join(unions)}),
comb AS (SELECT query_id, doc_id, {agg} AS raw FROM sc_all GROUP BY 1, 2),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


_MF_FIELDS = [
    ("title", "substr(text, 1, 64)", 2.0),
    ("contents", "text", 1.0),
]


def fuzzy_topk_sql(max_edits: int = 1, prefix_length: int = 1) -> str:
    """DuckDB and Spark both implement CLASSIC Levenshtein
    (transposition = 2 edits), so the sides agree by construction."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_SET

    qrows = [
        (qid, t)
        for qid, qtext in DOCUMENTS_FUZZY_SET
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    cond = (
        f"substr(dfr.term, 1, {prefix_length}) = substr(fq.qterm, 1, {prefix_length}) "
        f"AND levenshtein(dfr.term, fq.qterm) <= {max_edits}"
    )
    return multiterm_topk_sql(qrows, cond)


def fuzzy_blended_topk_sql(
    max_edits: int = 1,
    prefix_length: int = 1,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """BlendedTermQuery oracle: same expansion as fuzzy_topk but every
    variant in a query's group scores with the group's MAX df —
    mirrors fuzzy.search_fuzzy_blended."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_SET

    rows = [
        f"({qid}, '{t}')"
        for qid, qtext in DOCUMENTS_FUZZY_SET
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    cond = (
        f"substr(dfr.term, 1, {prefix_length}) = "
        f"substr(fq.qterm, 1, {prefix_length}) "
        f"AND levenshtein(dfr.term, fq.qterm) <= {max_edits}"
    )
    return f"""
WITH fq(query_id, qterm) AS (VALUES {", ".join(rows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
exp AS (
  SELECT DISTINCT fq.query_id, dfr.term, dfr.df
  FROM fq JOIN dfr ON {cond}
),
bl AS (SELECT query_id, max(df) AS bdf FROM exp GROUP BY 1),
sc AS (
  SELECT exp.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - bl.bdf + 0.5) / (bl.bdf + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM exp
  JOIN bl  ON bl.query_id = exp.query_id
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def fuzzy_damerau_topk_sql(prefix_length: int = 1) -> str:
    """Damerau-fuzzy oracle: DuckDB's builtin damerau_levenshtein (== OSA
    at distance 1) against the same prefix-pruned dictionary."""
    from mario_spark.fixtures import DOCUMENTS_FUZZY_DAMERAU_SET

    qrows = [
        (qid, t)
        for qid, qtext in DOCUMENTS_FUZZY_DAMERAU_SET
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    cond = (
        f"substr(dfr.term, 1, {prefix_length}) = "
        f"substr(fq.qterm, 1, {prefix_length}) "
        f"AND damerau_levenshtein(dfr.term, fq.qterm) <= 1"
    )
    return multiterm_topk_sql(qrows, cond)


def prefix_topk_sql() -> str:
    from mario_spark.fixtures import DOCUMENTS_PREFIX_SET

    return multiterm_topk_sql(
        DOCUMENTS_PREFIX_SET, "dfr.term LIKE fq.qterm || '%'"
    )


def wildcard_topk_sql() -> str:
    # * -> %, ? -> _ ; analyzer terms contain no % or _ so the
    # translation is exact (same as fuzzy.expand_wildcard)
    from mario_spark.fixtures import DOCUMENTS_WILDCARD_SET

    return multiterm_topk_sql(
        DOCUMENTS_WILDCARD_SET,
        "dfr.term LIKE replace(replace(fq.qterm, '*', '%'), '?', '_')",
    )


def regexp_topk_sql() -> str:
    # regexp_full_match is whole-term anchored, exactly like the Spark
    # side's ^(?:pat)$; patterns live in the Java-regex/RE2 common subset
    from mario_spark.fixtures import DOCUMENTS_REGEXP_SET

    return multiterm_topk_sql(
        DOCUMENTS_REGEXP_SET, "regexp_full_match(dfr.term, fq.qterm)"
    )


def collapse_topk_sql(k: int = 5, k1: float = 1.2, b: float = 0.75) -> str:
    """ES field-collapsing oracle: best hit per (query, lang), then
    survivors re-ranked to top-k. Mirrors suite.collapse_topk."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         round(sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ), 4) AS score
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
j AS (
  SELECT sc.query_id, sc.doc_id, d.lang, sc.score,
         row_number() OVER (PARTITION BY sc.query_id, d.lang
                            ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
  FROM sc JOIN documents d USING (doc_id)
),
rk AS (
  SELECT query_id, doc_id, lang, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM j WHERE rn = 1
)
SELECT query_id, rank, doc_id, lang, score FROM rk WHERE rank <= {k}
"""


def synonym_topk_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Lucene SynonymQuery oracle: per group, tf = Σ member tfs in the
    doc, df = MAX member df, idf from that; groups sum like BM25 terms.
    Mirrors query.search_synonyms exactly (same expansion rows)."""
    from mario_spark.fixtures import (
        DOCUMENTS_SYNONYM_QUERY_SET,
        DOCUMENTS_SYNONYMS,
    )

    rows = []
    for qid, qtext in DOCUMENTS_SYNONYM_QUERY_SET:
        for t in dict.fromkeys(py_tokenize(qtext)):
            for m in dict.fromkeys([t, *DOCUMENTS_SYNONYMS.get(t, [])]):
                rows.append(f"({qid}, '{t}', '{m}')")
    return f"""
WITH exp(query_id, gterm, term) AS (VALUES {", ".join(rows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
gidf AS (
  SELECT g.query_id, g.gterm,
         ln(1.0 + (st.n_docs - g.df + 0.5) / (g.df + 0.5)) AS idf, st.avgdl
  FROM (
    SELECT exp.query_id, exp.gterm, max(dfr.df) AS df
    FROM exp JOIN dfr USING (term) GROUP BY 1, 2
  ) g CROSS JOIN st
),
grouped AS (
  SELECT exp.query_id, exp.gterm, tf.doc_id,
         sum(tf.tf) AS gtf, min(dl.len) AS len
  FROM exp JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY 1, 2, 3
),
sc AS (
  SELECT grouped.query_id::BIGINT AS query_id, grouped.doc_id,
         sum( gidf.idf * (grouped.gtf * ({k1} + 1.0))
              / (grouped.gtf + {k1} * (1.0 - {b} + {b} * grouped.len / gidf.avgdl)) ) AS raw
  FROM grouped JOIN gidf USING (query_id, gterm)
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def phrase_topk_sql(
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    slop: int = 0,
    query_set: list[tuple[int, str]] | None = None,
    in_order: bool = True,
) -> str:
    """match_phrase oracle: per-query adjacency scan over the token
    array (arr[p+j] = term_j for all j), phrase_tf = count of valid
    start positions; scored as one pseudo-term with idf = sum of member
    idfs (Lucene PhraseWeight), identically to phrase.search_phrase.

    slop > 0 = ordered proximity (span_near in_order): restricted to
    BIGRAM queries so the window check stays one nested lambda —
    arr[p] = t0 and t1 somewhere in arr[p+1 .. p+1+slop]."""
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    qset = query_set if query_set is not None else DOCUMENTS_PHRASE_SET
    q_rows, ph_selects = [], []
    for qid, qtext in qset:
        terms = py_tokenize(qtext)
        for t in terms:
            q_rows.append(f"({qid}, '{t}')")
        m = len(terms) - 1
        if slop == 0:
            conds = " AND ".join(
                f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
            )
            ptf = (
                f"len(list_filter(generate_series(1, greatest(len(arr) - {m}, 0)), "
                f"p -> {conds}))::DOUBLE"
            )
        elif in_order:
            assert len(terms) == 2, "slop oracle supports bigrams only"
            t0, t1 = terms
            ptf = (
                f"len(list_filter(generate_series(1, greatest(len(arr) - 1, 0)), "
                f"p -> arr[p] = '{t0}' AND len(list_filter("
                f"generate_series(p + 1, least(p + 1 + {slop}, len(arr))), "
                f"j -> arr[j] = '{t1}')) > 0))::DOUBLE"
            )
        else:
            # span_near in_order=false: partner within |pa - pb| <= slop+1
            # in EITHER direction (NearSpansUnordered for two unit spans)
            assert len(terms) == 2, "slop oracle supports bigrams only"
            t0, t1 = terms
            w = slop + 1
            ptf = (
                f"len(list_filter(generate_series(1, len(arr)), "
                f"p -> arr[p] = '{t0}' AND len(list_filter("
                f"generate_series(greatest(p - {w}, 1), "
                f"least(p + {w}, len(arr))), "
                f"j -> arr[j] = '{t1}')) > 0))::DOUBLE"
            )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, {ptf} AS ptf FROM docs_t"
        )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES {", ".join(q_rows)}),
qidf AS (
  SELECT q.query_id,
         sum(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))) AS sidf
  FROM q JOIN dfr USING (term) CROSS JOIN st
  GROUP BY 1
),
ph AS ({" UNION ALL ".join(ph_selects)}),
sc AS (
  SELECT ph.query_id::BIGINT AS query_id, ph.doc_id,
         qidf.sidf * (ph.ptf * ({k1} + 1.0))
           / (ph.ptf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) AS raw
  FROM ph
  JOIN dl   USING (doc_id)
  JOIN qidf USING (query_id)
  CROSS JOIN st
  WHERE ph.ptf > 0
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def synonym_graph_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Multi-word synonym oracle: per query, BM25(term) + PhraseWeight
    (adjacency-scan ptf, idf-sum over members, zeroed when any member
    is OOV) summed per doc — mirrors phrase.search_synonym_graph."""
    from mario_spark.fixtures import SYNONYM_GRAPH_SET

    tq_rows, mq_rows, req_rows, ptf_selects = [], [], [], []
    for qid, term, phrase in SYNONYM_GRAPH_SET:
        t = py_tokenize(term)[0]
        ptoks = py_tokenize(phrase)
        tq_rows.append(f"({qid}, '{t}')")
        members = sorted(set(ptoks))
        for mt in members:
            mq_rows.append(f"({qid}, '{mt}')")
        req_rows.append(f"({qid}, {len(members)})")
        m = len(ptoks) - 1
        conds = " AND ".join(
            f"arr[p + {j}] = '{pt}'" for j, pt in enumerate(ptoks)
        )
        ptf_selects.append(
            f"SELECT {qid} AS query_id, doc_id, len(arr)::DOUBLE AS len, "
            f"len(list_filter(generate_series(1, greatest(len(arr) - {m}, 0)), "
            f"p -> {conds}))::DOUBLE AS ptf FROM docs_t"
        )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
tq(query_id, term) AS (VALUES {", ".join(tq_rows)}),
term_sc AS (
  SELECT tq.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS s
  FROM tq JOIN tf USING (term) JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY 1, 2
),
mq(query_id, term) AS (VALUES {", ".join(mq_rows)}),
msum AS (
  SELECT mq.query_id::BIGINT AS query_id,
         sum(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))) AS sidf,
         count(*) AS n_found
  FROM mq JOIN dfr USING (term) CROSS JOIN st
  GROUP BY 1
),
mreq(query_id, n_terms) AS (VALUES {", ".join(req_rows)}),
ptf_u AS ({" UNION ALL ".join(ptf_selects)}),
phrase_sc AS (
  SELECT p.query_id::BIGINT AS query_id, p.doc_id,
         msum.sidf * (p.ptf * ({k1} + 1.0))
           / (p.ptf + {k1} * (1.0 - {b} + {b} * p.len / st.avgdl)) AS s
  FROM ptf_u p
  JOIN msum ON msum.query_id = p.query_id
  JOIN mreq ON mreq.query_id = p.query_id
  CROSS JOIN st
  WHERE p.ptf > 0 AND msum.n_found = mreq.n_terms
),
comb AS (
  SELECT query_id, doc_id,
         coalesce(t.s, 0.0) + coalesce(p.s, 0.0) AS raw
  FROM term_sc t FULL OUTER JOIN phrase_sc p USING (query_id, doc_id)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def boosted_terms_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Per-clause boost oracle (Lucene BoostQuery): contribution =
    boost * idf * saturated tf — mirrors query.search_boosted_terms."""
    from mario_spark.fixtures import DOCUMENTS_BOOSTED_SET

    vals = ", ".join(
        f"({qid}, '{t}', {bo}::DOUBLE)" for qid, t, bo in DOCUMENTS_BOOSTED_SET
    )
    return f"""
WITH q(query_id, term, boost) AS (VALUES {vals}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( q.boost * ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def phrase_shingle_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """index_phrases oracle: word 2-shingles indexed as plain terms,
    BM25 over the shingle field's OWN stats (df over shingles, docCount
    and avgFieldLength of docs with >= 2 tokens) — mirrors
    phrase.search_phrase_shingle exactly (same rounding/tie-breaks)."""
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    q_rows = []
    for qid, qtext in DOCUMENTS_PHRASE_SET:
        toks = py_tokenize(qtext)
        if len(toks) != 2:
            continue
        q_rows.append(f"({qid}, '{toks[0]} {toks[1]}')")
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
sh AS (
  SELECT doc_id, (len(arr) - 1)::DOUBLE AS len,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               p -> arr[p] || ' ' || arr[p + 1])) AS term
  FROM docs_t WHERE len(arr) >= 2
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, any_value(len) AS len
       FROM sh GROUP BY 1, 2),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg((len(arr) - 1)::DOUBLE) AS avgdl
       FROM docs_t WHERE len(arr) >= 2),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES {", ".join(q_rows)}),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({k1} + 1.0))
           / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.len / st.avgdl)) AS raw
  FROM q JOIN tf USING (term) JOIN dfr USING (term) CROSS JOIN st
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def phrase_prefix_topk_sql(
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_expansions: int = 50,
) -> str:
    """match_phrase_prefix oracle: fixed members must run consecutively
    from p and arr[p + n_fixed] must be one of the <= max_expansions
    alphabetically-first dictionary terms with the prefix; idf =
    Σ idf(fixed) + Σ idf(expansions) (Lucene MultiPhraseWeight).
    Mirrors phrase.search_phrase_prefix exactly."""
    from mario_spark.fixtures import DOCUMENTS_PHRASE_PREFIX_SET

    exp_ctes, ph_selects, qidf_selects = [], [], []
    for qid, qtext in DOCUMENTS_PHRASE_PREFIX_SET:
        toks = py_tokenize(qtext)
        fixed, prefix = toks[:-1], toks[-1]
        fixed_in = ", ".join(f"'{t}'" for t in fixed)
        exp_ctes.append(f"""
exp_{qid} AS (
  SELECT term, df FROM dfr WHERE term LIKE '{prefix}%'
  ORDER BY term LIMIT {max_expansions}
),
expl_{qid} AS (SELECT coalesce(list(term ORDER BY term), []) AS lst FROM exp_{qid})""")
        conds = " AND ".join(
            f"arr[p + {j}] = '{t}'" for j, t in enumerate(fixed)
        )
        n_fixed = len(fixed)
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, "
            f"len(list_filter(generate_series(1, greatest(len(arr) - {n_fixed}, 0)), "
            f"p -> {conds} AND list_contains(e.lst, arr[p + {n_fixed}])))::DOUBLE AS ptf "
            f"FROM docs_t CROSS JOIN expl_{qid} e WHERE len(e.lst) > 0"
        )
        qidf_selects.append(
            f"SELECT {qid} AS query_id, "
            f"(SELECT sum(ln(1.0 + (st.n_docs - df + 0.5) / (df + 0.5))) "
            f" FROM dfr CROSS JOIN st WHERE term IN ({fixed_in})) + "
            f"(SELECT sum(ln(1.0 + (st.n_docs - df + 0.5) / (df + 0.5))) "
            f" FROM exp_{qid} CROSS JOIN st) AS sidf"
        )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
{", ".join(exp_ctes)},
qidf AS ({" UNION ALL ".join(qidf_selects)}),
ph AS ({" UNION ALL ".join(ph_selects)}),
sc AS (
  SELECT ph.query_id::BIGINT AS query_id, ph.doc_id,
         qidf.sidf * (ph.ptf * ({k1} + 1.0))
           / (ph.ptf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) AS raw
  FROM ph
  JOIN dl   USING (doc_id)
  JOIN qidf USING (query_id)
  CROSS JOIN st
  WHERE ph.ptf > 0 AND qidf.sidf IS NOT NULL
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


# Mirrors ops/highlight.py exactly: earliest boundary-safe match of
# 'hash' or 'join' (fold order hash-then-join, strict < keeps the
# earlier), 60-char fragment from 20 before the match, matched
# occurrence wrapped in <em>.
HIGHLIGHT_FRAGMENTS = """
WITH p AS (
  SELECT doc_id, text,
         instr(' ' || lower(text) || ' ', ' hash ') AS p1,
         instr(' ' || lower(text) || ' ', ' join ') AS p2
  FROM documents
),
m AS (
  SELECT doc_id, text,
         CASE WHEN p2 > 0 AND (p1 = 0 OR p2 < p1) THEN p2
              WHEN p1 > 0 THEN p1 ELSE 0 END::BIGINT AS pos,
         CASE WHEN p2 > 0 AND (p1 = 0 OR p2 < p1) THEN 'join'
              WHEN p1 > 0 THEN 'hash' ELSE '' END AS term
  FROM p
),
f AS (
  SELECT doc_id, pos, term,
         substr(text, greatest(1, pos - 20), 60) AS frag,
         (pos - greatest(1, pos - 20) + 1)::BIGINT AS s
  FROM m WHERE pos > 0
)
SELECT doc_id, pos, term,
       substr(frag, 1, s - 1) || '<em>' || substr(frag, s, len(term))
         || '</em>' || substr(frag, s + len(term), 60) AS snippet
FROM f ORDER BY doc_id LIMIT 20
"""

# Mirrors ops/highlight.py highlight_best_passage: 30-word whitespace
# passages, passage score = sum of matched-term Lucene idf (rounded
# 4dp), earliest max passage wins, matched words wrapped in <em>,
# whitespace normalized to single spaces.
HIGHLIGHT_BEST_PASSAGE = f"""
WITH {_TOKS_CTE},
stats AS (SELECT count(*)::DOUBLE AS n FROM documents),
dfs AS (
  SELECT
    coalesce(max(CASE WHEN term = 'hash' THEN df END), 0) AS df_hash,
    coalesce(max(CASE WHEN term = 'join' THEN df END), 0) AS df_join
  FROM (
    SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
    FROM toks WHERE term IN ('hash', 'join') GROUP BY 1
  )
),
w AS (
  SELECT ln(1 + (s.n - d.df_hash + 0.5) / (d.df_hash + 0.5)) AS w_hash,
         ln(1 + (s.n - d.df_join + 0.5) / (d.df_join + 0.5)) AS w_join
  FROM stats s, dfs d
),
p AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS words
  FROM documents
),
pass AS (
  SELECT doc_id, w_hash, w_join,
         list_transform(
           range(0, greatest(1, ceil(len(words) / 30.0))::INT),
           i -> list_slice(words, i * 30 + 1, i * 30 + 30)) AS passages
  FROM p, w
),
sc AS (
  SELECT doc_id, passages,
         list_transform(passages, pw -> round(
           CASE WHEN len(list_filter(pw, x -> lower(x) = 'hash')) > 0
                THEN w_hash ELSE 0 END
           + CASE WHEN len(list_filter(pw, x -> lower(x) = 'join')) > 0
                  THEN w_join ELSE 0 END, 4)) AS scores
  FROM pass
),
b AS (
  SELECT doc_id, passages, scores,
         list_position(scores, list_aggregate(scores, 'max')) AS best
  FROM sc
)
SELECT doc_id, best::BIGINT AS passage,
       scores[best] AS score,
       array_to_string(
         list_transform(passages[best],
           x -> CASE WHEN lower(x) IN ('hash', 'join')
                     THEN '<em>' || x || '</em>' ELSE x END), ' ')
         AS snippet
FROM b WHERE scores[best] > 0
ORDER BY doc_id LIMIT 20
"""

FACET_TERMS_LANG = f"""
WITH {_TOKS_CTE},
hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'join'),
b AS (
  SELECT d.lang AS key, count(*)::BIGINT AS doc_count,
         round(avg(d.n_chars), 4) AS avg_n_chars
  FROM documents d JOIN hits USING (doc_id)
  GROUP BY 1
)
SELECT key, doc_count, avg_n_chars FROM b
ORDER BY doc_count DESC, key ASC LIMIT 10
"""

SEARCH_SORTED_BY_FIELD = f"""
WITH {_TOKS_CTE},
hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'join')
SELECT d.doc_id, d.n_chars
FROM documents d JOIN hits USING (doc_id)
ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 10
"""

AGG_STATS_LANG = """
SELECT lang AS key, count(*)::BIGINT AS count,
       min(n_chars)::BIGINT AS min, max(n_chars)::BIGINT AS max,
       round(avg(n_chars), 4) AS avg, sum(n_chars)::BIGINT AS sum
FROM documents GROUP BY 1
"""

REPETITION_STATS = f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
nn AS (SELECT doc_id, len(arr) AS n, len(list_distinct(arr)) AS nd FROM docs_t),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i] || ' ' || arr[i + 1])) AS g
  FROM docs_t WHERE len(arr) >= 2
),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
top2 AS (SELECT doc_id, max(c) AS mc FROM bgc GROUP BY 1),
tg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 2),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2])) AS g
  FROM docs_t WHERE len(arr) >= 3
),
tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
dup3 AS (SELECT doc_id, sum(c) AS sc FROM tgc WHERE c > 1 GROUP BY 1)
SELECT nn.doc_id,
       CASE WHEN nn.n = 0 THEN 0.0
            ELSE round(coalesce(top2.mc, 0) * 2.0 / nn.n, 6) END AS top_bigram_frac,
       CASE WHEN nn.n = 0 THEN 0.0
            ELSE round(coalesce(dup3.sc, 0) * 3.0 / nn.n, 6) END AS dup_trigram_frac,
       CASE WHEN nn.n = 0 THEN 0.0
            ELSE round(nn.nd * 1.0 / nn.n, 6) END AS ttr
FROM nn
LEFT JOIN top2 USING (doc_id)
LEFT JOIN dup3 USING (doc_id)
"""

URL_DEDUP = r"""
WITH d AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN printf('https://example.com/page/%d', doc_id // 4)
      WHEN 1 THEN printf('HTTPS://EXAMPLE.COM/page/%d', doc_id // 4)
      WHEN 2 THEN printf('https://example.com:443/page/%d/', doc_id // 4)
      ELSE printf('https://example.com/page/%d?utm_source=feed&ref=x#frag', doc_id // 4)
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]*(/[^?#]*)?', 1) AS p,
         coalesce(array_to_string(
           list_filter(string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                       x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref='))),
           '&'), '') AS q2
  FROM d
),
c AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
         lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) ||
         (CASE WHEN p IN ('', '/') THEN '/' ELSE regexp_replace(p, '/$', '') END) ||
         (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canon_url
  FROM parts
)
SELECT doc_id, canon_url,
       min(doc_id) OVER (PARTITION BY canon_url) AS keeper_doc_id,
       (count(*) OVER (PARTITION BY canon_url))::BIGINT AS group_size
FROM c
"""


STRATIFIED_SAMPLE = """
WITH s AS (
  SELECT doc_id, lang AS stratum,
         round((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
               / 4503599627370496.0, 8) AS u,
         CASE WHEN lang = 'en' THEN 0.5
              WHEN lang = 'de' THEN 0.25
              ELSE 0.1 END AS rate
  FROM documents
)
SELECT doc_id, stratum, u FROM s WHERE u < rate
"""

PACK_SEQUENCES = r"""
WITH d AS (
  SELECT doc_id, (doc_id % 8)::BIGINT AS shard,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_offset
  FROM d
)
SELECT doc_id, shard, n_tokens, start_offset,
       (start_offset // 2048)::BIGINT AS chunk_id
FROM c
"""


def _boosting_oracle(
    negative_terms: list[str] | None = None,
    negative_boost: float = 0.5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """ES boosting-query oracle: BM25 OR scores, demoted (not removed)
    by negative_boost where the doc matches any negative term."""
    negs = ", ".join(f"'{t}'" for t in (negative_terms or ["merge"]))
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf USING (term)
  JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({negs})),
dem AS (
  SELECT sc.query_id, sc.doc_id,
         CASE WHEN neg.doc_id IS NOT NULL THEN sc.raw * {negative_boost}
              ELSE sc.raw END AS raw
  FROM sc LEFT JOIN neg USING (doc_id)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM dem
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def _explain_oracle(k1: float = 1.2, b: float = 0.75) -> str:
    """ES explain-API oracle: per-term breakdown rows for each query's
    top-1 doc (rank on round(total,4) DESC, doc_id ASC)."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id, tf.term,
         tf.tf, dfr.df,
         ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) AS idf,
         ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({k1} + 1.0))
           / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) AS contrib
  FROM q
  JOIN tf USING (term)
  JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN st
),
tot AS (SELECT query_id, doc_id, sum(contrib) AS score FROM contrib GROUP BY 1, 2),
top1 AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(score, 4) DESC, doc_id ASC) AS rk
    FROM tot
  ) WHERE rk = 1
)
SELECT c.query_id, c.doc_id, c.term,
       c.tf::BIGINT AS tf, c.df::BIGINT AS df,
       round(c.idf, 6) AS idf, round(c.contrib, 4) AS contrib
FROM contrib c JOIN top1 USING (query_id, doc_id)
"""


def _term_suggest_oracle() -> str:
    from mario_spark.fixtures import DOCUMENTS_SUGGEST_SET

    vals = ", ".join(f"('{t}')" for t in DOCUMENTS_SUGGEST_SET)
    return f"""
WITH {_TOKS_CTE},
tfp AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tfp GROUP BY 1),
inp(input) AS (VALUES {vals}),
cand AS (
  SELECT input, term, df, levenshtein(input, term)::BIGINT AS dist
  FROM dfr CROSS JOIN inp
),
f AS (SELECT * FROM cand WHERE dist BETWEEN 1 AND 2),
rk AS (
  SELECT input,
         row_number() OVER (PARTITION BY input
                            ORDER BY dist ASC, df DESC, term ASC) AS rank,
         term AS suggestion, dist, df
  FROM f
)
SELECT input, rank::BIGINT AS rank, suggestion, dist, df
FROM rk WHERE rank <= 3
"""


TERMS_ENUM = f"""
WITH {_TOKS_CTE},
tfp AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tfp GROUP BY 1)
SELECT term, df FROM dfr WHERE term LIKE 's%'
ORDER BY term ASC LIMIT 10
"""


def _term_suggest_popular_oracle() -> str:
    return """
WITH %s,
tfp AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tfp GROUP BY 1),
inp(input) AS (VALUES ('part'), ('sort')),
ind AS (
  SELECT inp.input, coalesce(dfr.df, 0) AS input_df
  FROM inp LEFT JOIN dfr ON dfr.term = inp.input
),
cand AS (
  SELECT ind.input, dfr.term, dfr.df,
         levenshtein(ind.input, dfr.term)::BIGINT AS dist
  FROM dfr CROSS JOIN ind
  WHERE levenshtein(ind.input, dfr.term) BETWEEN 1 AND 2
    AND dfr.df > ind.input_df
),
rk AS (
  SELECT input,
         row_number() OVER (PARTITION BY input
                            ORDER BY dist ASC, df DESC, term ASC) AS rank,
         term AS suggestion, dist, df
  FROM cand
)
SELECT input, rank::BIGINT AS rank, suggestion, dist, df
FROM rk WHERE rank <= 3
""" % _TOKS_CTE


_GOPHER_STOP_HITS = " + ".join(
    f"list_contains(toks, '{w}')::INT"
    for w in ("the", "be", "to", "of", "and", "that", "have", "with")
)

# Gopher rules (Rae et al. 2021 App. A) — arithmetic mirrors
# ops/textstats.gopher_quality_filter exactly; keep uses the ROUNDED
# values so boundary docs agree bit-for-bit
GOPHER_QUALITY = f"""
WITH w AS (
  SELECT doc_id,
         regexp_extract_all(text, '\\S+') AS words,
         string_split(text, chr(10)) AS lines,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
         regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+') AS toks
  FROM documents
),
c AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         greatest(len(words), 1) AS nw,
         coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS sum_wlen,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         n_sym,
         greatest(len(lines), 1) AS nl,
         len(list_filter(lines,
             l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
         len(list_filter(lines,
             l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS n_ell,
         ({_GOPHER_STOP_HITS})::BIGINT AS stop_hits
  FROM w
),
r AS (
  SELECT doc_id, n_words,
         round(sum_wlen / nw, 4) AS mean_word_len,
         round(n_sym / nw, 4) AS symbol_ratio,
         round(n_bullet / nl, 4) AS bullet_frac,
         round(n_ell / nl, 4) AS ellipsis_frac,
         round(n_alpha / nw, 4) AS alpha_frac,
         stop_hits
  FROM c
)
SELECT *,
       (n_words BETWEEN 50 AND 100000)
       AND mean_word_len BETWEEN 3.0 AND 10.0
       AND symbol_ratio <= 0.1
       AND bullet_frac <= 0.9
       AND ellipsis_frac <= 0.3
       AND alpha_frac >= 0.8
       AND stop_hits >= 2 AS keep
FROM r
"""


def _term_suggest_missing_oracle() -> str:
    return """
WITH %s,
tfp AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tfp GROUP BY 1),
inp(input) AS (VALUES ('part'), ('sortt')),
absent AS (
  SELECT input FROM inp
  WHERE input NOT IN (SELECT term FROM dfr)
),
cand AS (
  SELECT a.input, dfr.term, dfr.df,
         levenshtein(a.input, dfr.term)::BIGINT AS dist
  FROM dfr CROSS JOIN absent a
  WHERE levenshtein(a.input, dfr.term) BETWEEN 1 AND 2
),
rk AS (
  SELECT input,
         row_number() OVER (PARTITION BY input
                            ORDER BY dist ASC, df DESC, term ASC) AS rank,
         term AS suggestion, dist, df
  FROM cand
)
SELECT input, rank::BIGINT AS rank, suggestion, dist, df
FROM rk WHERE rank <= 3
""" % _TOKS_CTE


def _qs_oracle() -> str:
    from mario_spark.fixtures import DOCUMENTS_QS_SET
    from mario_spark.qs import query_string_sql

    return query_string_sql(DOCUMENTS_QS_SET, k=10)


def _qsf_oracle() -> str:
    from mario_spark.fixtures import DOCUMENTS_QSF_SET
    from mario_spark.qs import query_string_fields_sql

    return query_string_fields_sql(
        DOCUMENTS_QSF_SET,
        {"title": "substr(text, 1, 64)", "contents": "text"},
        default_field="contents",
        k=10,
    )


AGG_HISTOGRAM_NCHARS = """
WITH got AS (
  SELECT (n_chars // 500) * 500 AS key, count(*)::BIGINT AS n
  FROM documents GROUP BY 1
),
spine AS (
  SELECT unnest(generate_series(
    (SELECT (min(n_chars) // 500) * 500 FROM documents),
    (SELECT (max(n_chars) // 500) * 500 FROM documents),
    500)) AS key
)
SELECT spine.key::BIGINT AS key, coalesce(got.n, 0)::BIGINT AS doc_count
FROM spine LEFT JOIN got USING (key)
"""

AGG_EXTENDED_STATS = """
WITH g AS (
  SELECT lang AS key,
         count(*)::BIGINT AS count,
         min(n_chars)::BIGINT AS min,
         max(n_chars)::BIGINT AS max,
         sum(n_chars)::BIGINT AS sum,
         sum(n_chars::DOUBLE * n_chars::DOUBLE) AS ss
  FROM documents GROUP BY 1
)
SELECT key, count, min, max,
       round(sum::DOUBLE / count::DOUBLE, 4) AS avg,
       sum,
       round(ss, 2) AS sum_of_squares,
       round(ss / count::DOUBLE - (sum::DOUBLE / count::DOUBLE) * (sum::DOUBLE / count::DOUBLE), 4) AS variance,
       round(sqrt(ss / count::DOUBLE - (sum::DOUBLE / count::DOUBLE) * (sum::DOUBLE / count::DOUBLE)), 4) AS std_deviation
FROM g
"""

AGG_FILTERS = """
WITH c AS (
  SELECT sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0 END)::BIGINT AS short,
         sum(CASE WHEN lower(lang) = 'en' THEN 1 ELSE 0 END)::BIGINT AS en,
         sum(CASE WHEN contains(text, 'hash') THEN 1 ELSE 0 END)::BIGINT AS has_hash,
         sum(CASE WHEN nullif(source, 'src3') IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing
  FROM documents
)
SELECT 'short' AS key, short AS doc_count FROM c
UNION ALL SELECT 'en', en FROM c
UNION ALL SELECT 'has_hash', has_hash FROM c
UNION ALL SELECT 'missing', missing FROM c
"""

AGG_PIPELINE_MONTHLY = """
WITH g AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS bucket,
         count(*)::BIGINT AS n,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1
)
SELECT bucket, n, sum_value,
       (sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_n,
       coalesce(n - lag(n) OVER (ORDER BY bucket), 0)::BIGINT AS deriv_n,
       round(avg(n) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg_n
FROM g
"""

AGG_BUCKET_KS = """
WITH g AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         count(*)::DOUBLE AS n
  FROM events GROUP BY 1
),
s AS (
  SELECT row_number() OVER (ORDER BY bucket)::DOUBLE AS r,
         sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
  FROM g
),
t AS (SELECT count(*)::DOUBLE AS nb, sum(n) AS tot FROM g)
SELECT t.nb::BIGINT AS n_buckets, t.tot::BIGINT AS total_docs,
       round(max(abs(s.cum / t.tot - s.r / t.nb)), 4) AS ks_stat
FROM s CROSS JOIN t GROUP BY 1, 2
"""

AGG_BUCKET_CORRELATION = """
WITH g AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         count(*)::DOUBLE AS x, sum(value) AS y
  FROM events GROUP BY 1
),
m AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM g)
SELECT n::BIGINT AS n_buckets,
       CASE WHEN sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) > 0
            THEN round((n*sxy - sx*sy)
                       / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4)
            ELSE 0.0 END AS correlation
FROM m
"""

AGG_GEOTILE_GRID = """
WITH p AS (
  SELECT (doc_id % 360 - 180 + 0.5)::DOUBLE AS lon,
         greatest(least(((doc_id * 7) % 170 - 85 + 0.5)::DOUBLE, 85.05112878),
                  -85.05112878) AS latc
  FROM documents
),
t AS (
  SELECT '4/'
         || (floor((lon + 180.0) / 360.0 * 16.0))::BIGINT::VARCHAR || '/'
         || (floor((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc)))
                    / 3.141592653589793) / 2.0 * 16.0))::BIGINT::VARCHAR AS key
  FROM p
)
SELECT key, count(*)::BIGINT AS doc_count
FROM t GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 20
"""

AGG_NESTED_TERMS = """
WITH pairs AS (
  SELECT lang AS parent_key, source AS child_key,
         count(*)::BIGINT AS child_count
  FROM documents GROUP BY 1, 2
),
parents AS (
  SELECT parent_key, sum(child_count)::BIGINT AS parent_count
  FROM pairs GROUP BY 1
),
tp AS (
  SELECT * FROM (
    SELECT parent_key, parent_count,
           row_number() OVER (ORDER BY parent_count DESC, parent_key ASC) AS prank
    FROM parents
  ) WHERE prank <= 3
),
rc AS (
  SELECT * FROM (
    SELECT parent_key, child_key, child_count,
           row_number() OVER (PARTITION BY parent_key
                              ORDER BY child_count DESC, child_key ASC) AS crank
    FROM pairs
  ) WHERE crank <= 2
)
SELECT tp.parent_key, tp.parent_count, tp.prank::BIGINT AS prank,
       rc.child_key, rc.child_count, rc.crank::BIGINT AS crank
FROM rc JOIN tp USING (parent_key)
"""

AGG_DATE_HISTOGRAM = """
SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS bucket,
       event_type AS key,
       count(*)::BIGINT AS doc_count,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

AGG_RANGE_NCHARS = """
WITH dim(key, lo, hi) AS (VALUES
  ('0-500', 0.0, 500.0),
  ('500-2000', 500.0, 2000.0),
  ('2000-1000000', 2000.0, 1000000.0),
  ('1000000-', 1000000.0, 'inf'::DOUBLE)),
j AS (
  SELECT dim.key, d.n_chars
  FROM dim LEFT JOIN documents d
    ON d.n_chars::DOUBLE >= dim.lo AND d.n_chars::DOUBLE < dim.hi
)
SELECT key, count(n_chars)::BIGINT AS doc_count,
       coalesce(round(avg(n_chars), 4), 0.0) AS avg
FROM j GROUP BY 1
"""

AGG_PERCENTILES = """
SELECT lang AS key,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY 1
"""

# KMV cardinality sketch, identical arithmetic to aggs.cardinality_kmv:
# u = first 13 hex chars of md5 / 16^13 (2^52 — exact in a double).
AGG_CARDINALITY_USERS = """
WITH h AS (
  SELECT DISTINCT event_type AS key,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
           / 4503599627370496.0 AS u
  FROM events
),
rk AS (
  SELECT key, u, row_number() OVER (PARTITION BY key ORDER BY u) AS rn
  FROM h
),
t AS (SELECT key, count(*) AS c, max(u) AS mu FROM rk WHERE rn <= 256 GROUP BY 1)
SELECT key,
       CASE WHEN c < 256 THEN round(c::DOUBLE, 4)
            ELSE round(255.0 / mu, 4) END AS est_distinct
FROM t
"""

AGG_SIGNIFICANT_TERMS = f"""
WITH {_TOKS_CTE},
presence AS (SELECT DISTINCT doc_id, term FROM toks),
fg_docs AS (SELECT DISTINCT doc_id FROM presence WHERE term = 'join'),
nfg AS (SELECT count(*)::DOUBLE AS n FROM fg_docs),
nbg AS (SELECT count(*)::DOUBLE AS n FROM documents),
fg AS (
  SELECT term, count(*)::DOUBLE AS fg_df
  FROM presence SEMI JOIN fg_docs USING (doc_id)
  GROUP BY 1
),
bg AS (SELECT term, count(*)::DOUBLE AS bg_df FROM presence GROUP BY 1),
j AS (
  SELECT fg.term, fg.fg_df, bg.bg_df,
         round( (fg.fg_df / nfg.n - bg.bg_df / nbg.n)
                * ((fg.fg_df / nfg.n) / (bg.bg_df / nbg.n)), 6) AS jlh
  FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nbg
  WHERE fg.term != 'join'
)
SELECT term, fg_df::BIGINT AS fg_count, bg_df::BIGINT AS bg_count, jlh
FROM j ORDER BY jlh DESC, term ASC LIMIT 10
"""

AGG_SIGNIFICANT_TEXT = f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')) AS term
  FROM documents SEMI JOIN keep USING (doc_id)
),
presence AS (SELECT DISTINCT doc_id, term FROM toks),
fg_docs AS (SELECT DISTINCT doc_id FROM presence WHERE term = 'join'),
nfg AS (SELECT count(*)::DOUBLE AS n FROM fg_docs),
nbg AS (SELECT count(*)::DOUBLE AS n FROM keep),
fg AS (
  SELECT term, count(*)::DOUBLE AS fg_df
  FROM presence SEMI JOIN fg_docs USING (doc_id)
  GROUP BY 1
),
bg AS (SELECT term, count(*)::DOUBLE AS bg_df FROM presence GROUP BY 1),
j AS (
  SELECT fg.term, fg.fg_df, bg.bg_df,
         round( (fg.fg_df / nfg.n - bg.bg_df / nbg.n)
                * ((fg.fg_df / nfg.n) / (bg.bg_df / nbg.n)), 6) AS jlh
  FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nbg
  WHERE fg.term != 'join'
)
SELECT term, fg_df::BIGINT AS fg_count, bg_df::BIGINT AS bg_count, jlh
FROM j ORDER BY jlh DESC, term ASC LIMIT 10
"""

AGG_VARIABLE_WIDTH = """
WITH vals AS (
  SELECT DISTINCT n_chars::DOUBLE AS v FROM documents WHERE n_chars IS NOT NULL
),
g AS (SELECT v, v - lag(v) OVER (ORDER BY v) AS gap FROM vals),
bounds AS (
  SELECT v FROM g WHERE gap IS NOT NULL ORDER BY gap DESC, v ASC LIMIT 7
),
assigned AS (
  SELECT d.n_chars::DOUBLE AS v,
         (SELECT count(*) FROM bounds b WHERE b.v <= d.n_chars::DOUBLE) AS bucket
  FROM documents d WHERE d.n_chars IS NOT NULL
)
SELECT bucket::BIGINT AS bucket, min(v) AS min, max(v) AS max,
       round(avg(v), 4) AS centroid, count(*)::BIGINT AS doc_count
FROM assigned GROUP BY bucket ORDER BY bucket
"""

AGG_TOP_HITS = """
WITH rk AS (
  SELECT lang AS key, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
)
SELECT key, rank::BIGINT AS rank, doc_id, n_chars FROM rk WHERE rank <= 3
"""

AGG_COMPOSITE_PAGE = """
SELECT lang, source, count(*)::BIGINT AS doc_count
FROM documents
WHERE (lang > 'de') OR (lang = 'de' AND source > 'src3')
GROUP BY 1, 2
ORDER BY lang ASC, source ASC LIMIT 5
"""


def rescore_topk_sql(
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """ES rescore oracle: first-pass window on round(or_score, 4) DESC,
    doc_id ASC; final = qw*or + rw*(or if the doc matches every term).
    Mirrors query.search_rescore exactly."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(DISTINCT term) AS qn FROM q GROUP BY 1),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS or_score,
         count(DISTINCT tf.term) AS nt
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
win AS (
  SELECT sc.query_id, sc.doc_id, sc.or_score, sc.nt, qn.qn,
         row_number() OVER (PARTITION BY sc.query_id
                            ORDER BY round(sc.or_score, 4) DESC,
                                     sc.doc_id ASC) AS fr
  FROM sc JOIN qn USING (query_id)
),
fin AS (
  SELECT query_id, doc_id,
         round({query_weight} * or_score
               + {rescore_weight} * (CASE WHEN nt = qn THEN or_score
                                          ELSE 0.0 END), 4) AS score
  FROM win WHERE fr <= {window_size}
),
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM fin
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


SEARCH_AFTER_PAGE = """
WITH en AS (SELECT doc_id, n_chars FROM documents WHERE lang = 'en'),
rk AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM en
)
SELECT doc_id, n_chars FROM rk WHERE rn BETWEEN 11 AND 20
"""

KEYWORD_NORMALIZE = r"""
SELECT doc_id,
       trim(lower(regexp_replace(substr(text, 1, 20) || '.', '[./;=,?]$', ''))) AS kw
FROM documents
"""

FILTER_LANG_EN = """
SELECT doc_id, source, n_chars FROM documents WHERE lower(lang) = 'en'
"""

TOKEN_COUNT_BPE = r"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_bpe_tokens
FROM documents
"""

MULTIMODAL_BYTES = """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes FROM documents
"""

EXACT_DEDUP_STATS = """
WITH g AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
SELECT sum(c)::BIGINT AS n_total,
       count(*)::BIGINT AS n_distinct,
       sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT AS n_dup
FROM g
"""

EXACT_DEDUP_GROUPS = """
SELECT md5(text) AS text_md5,
       count(*)::BIGINT AS group_size,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""

Q1_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""

Q3_TOP_ORDERS = """
WITH j AS (
  SELECT o.o_orderkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderstatus <> 'F'
  GROUP BY 1
),
rk AS (
  SELECT o_orderkey, revenue,
         row_number() OVER (ORDER BY revenue DESC, o_orderkey ASC) AS rank
  FROM j
)
SELECT rank, o_orderkey, revenue FROM rk WHERE rank <= 10
"""

DATE_PARSE_CASCADE = """
WITH s AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y')
              WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m')
              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS ds
  FROM orders
)
SELECT o_orderkey,
       strftime(coalesce(try_strptime(ds, '%Y-%m-%d'),
                         try_strptime(ds, '%Y-%m'),
                         try_strptime(ds, '%Y')),
                '%Y-%m-%d %H:%M:%S') AS parsed_ts
FROM s
"""

DATE_RANGE_QUERY = """
WITH r AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y')
              WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y-%m')
              WHEN o_orderkey % 4 = 2 THEN strftime(o_orderdate, '%Y-%m-%d')
              ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+02:00' END AS gte_s,
         strftime(o_orderdate + (o_orderkey % 60 + 1) * INTERVAL 1 DAY,
                  '%Y-%m-%d') AS lte_s
  FROM orders
),
p AS (
  SELECT o_orderkey,
         coalesce(try_strptime(gte_s, '%Y-%m-%dT%H:%M:%S%z') AT TIME ZONE 'UTC',
                  try_strptime(gte_s, '%Y-%m-%dT%H:%M:%S'),
                  try_strptime(gte_s, '%Y-%m-%d'),
                  try_strptime(gte_s, '%Y-%m'),
                  try_strptime(gte_s, '%Y')) AS lo,
         try_strptime(lte_s, '%Y-%m-%d') AS hi
  FROM r
)
SELECT o_orderkey,
       strftime(lo, '%Y-%m-%d %H:%M:%S') AS lo_ts,
       strftime(hi, '%Y-%m-%d %H:%M:%S') AS hi_ts
FROM p
WHERE lo <= TIMESTAMP '1995-07-15 23:59:59'
  AND hi >= TIMESTAMP '1995-06-01 00:00:00'
"""

# ---------------------------------------------------- training-pipeline ops
# distinct (doc_id, term) pairs — same tokenizer as _TOKS_CTE
_DTERMS_CTE = f"""
dterms AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')) AS term
  FROM documents
)"""

_MH_COLS = ", ".join(
    f"min(md5(term || '#{i}')) AS mh{i}" for i in range(8)
)

MINHASH_SIGNATURES = f"""
WITH {_DTERMS_CTE}
SELECT doc_id, {_MH_COLS} FROM dterms GROUP BY doc_id
"""

_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS band_key FROM sig"
    for b in range(4)
)

def minhash_pairs_sql(threshold: float = 0.5) -> str:
    return f"""
WITH {_DTERMS_CTE},
sig AS (SELECT doc_id, {_MH_COLS} FROM dterms GROUP BY doc_id),
bands AS ({_BANDS}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r USING (band_key)
  WHERE l.doc_id < r.doc_id
),
sz AS (SELECT doc_id, count(*) AS sz FROM dterms GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN dterms ta ON ta.doc_id = c.doc_a
  JOIN dterms tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE round(i / (sa.sz + sb.sz - i), 4) >= {threshold}
"""


MINHASH_LSH_PAIRS = minhash_pairs_sql(0.5)

_BANDS_I = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS band_key FROM sig"
    for b in range(4)
)

# cross-snapshot near-dup: candidates only between the incoming
# snapshot (src10-19) and the accepted corpus (src0-9), same banding
# and exact-Jaccard verify as minhash_pairs_sql
INCREMENTAL_MINHASH_DEDUP = f"""
WITH {_DTERMS_CTE},
sig AS (SELECT doc_id, {_MH_COLS} FROM dterms GROUP BY doc_id),
bands AS ({_BANDS_I}),
newd AS (SELECT doc_id FROM documents
         WHERE NOT regexp_full_match(source, 'src[0-9]')),
oldd AS (SELECT doc_id FROM documents
         WHERE regexp_full_match(source, 'src[0-9]')),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l
  JOIN bands r USING (band, band_key)
  JOIN newd ON newd.doc_id = l.doc_id
  JOIN oldd ON oldd.doc_id = r.doc_id
),
sz AS (SELECT doc_id, count(*) AS sz FROM dterms GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN dterms ta ON ta.doc_id = c.doc_a
  JOIN dterms tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT doc_a AS new_doc, doc_b AS old_doc,
       round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5
"""

DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({minhash_pairs_sql(0.8)}) t
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS comp
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, comp FROM comp
"""


def _simhash_oracle() -> str:
    from mario_spark.ops.dedup import simhash_sql

    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2)
SELECT doc_id, {simhash_sql("term", "tf", dialect="duckdb")} AS simhash
FROM tf GROUP BY doc_id
"""


def _simhash_pairs_oracle() -> str:
    from mario_spark.ops.dedup import hamming_sql

    ham = hamming_sql("a.simhash", "b.simhash", dialect="duckdb")
    return f"""
WITH sh AS ({_simhash_oracle()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({ham})::BIGINT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE ({ham}) <= 6
"""


_NG_MINS = ", ".join(
    f"min(md5(term || '#{i}')) AS mg{i}" for i in range(4)
)
_NG_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, '{i}' || ':' || mg{i} AS band_key FROM mins"
    for i in range(4)
)

# Token 8-gram decontamination, identical arithmetic to
# ops/dedup.ngram_decontaminate (md5 over space-joined token windows;
# benchmark stand-in = doc_id % 10 == 7; docs under 8 tokens excluded).
NGRAM_DECONTAMINATE = r"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS arr
  FROM documents
),
ok AS (SELECT doc_id, arr FROM arrs WHERE len(arr) >= 8),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 7),
                p -> md5(array_to_string(arr[p:p+7], ' ')))) AS g
  FROM ok
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 != 7)
SELECT doc_id, count(*)::BIGINT AS n_overlap
FROM train SEMI JOIN bench USING (g)
GROUP BY 1
"""

NGRAM_JACCARD_PAIRS = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, substr(text, p, 5) AS term
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(len(text) - 4, 0))) AS p
    FROM documents
  )
),
mins AS (SELECT doc_id, {_NG_MINS} FROM grams GROUP BY 1),
bands AS ({_NG_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN grams ta ON ta.doc_id = c.doc_a
  JOIN grams tb ON tb.doc_id = c.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.8
"""

# float64 cosine spelled out (list_cosine_similarity is float32)
_COS64 = (
    "(list_sum(list_transform(generate_series(1, 64), "
    "i -> ({A}[i]::DOUBLE / sqrt(list_sum(list_transform(generate_series(1, 64), j -> {A}[j]::DOUBLE * {A}[j]::DOUBLE))))"
    " * ({B}[i]::DOUBLE / sqrt(list_sum(list_transform(generate_series(1, 64), j -> {B}[j]::DOUBLE * {B}[j]::DOUBLE)))))))"
)

# Exact 5-NN graph: every vector vs every other, per-element
# normalized product sum (same FP op order as _COS64), rank per src.
KNN_GRAPH_EXACT = """
WITH nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE
           / sqrt(list_sum(list_transform(embedding,
               y -> y::DOUBLE * y::DOUBLE)))) AS ne
  FROM embeddings
),
sc AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round(list_sum(list_transform(generate_series(1, 64),
               i -> a.ne[i] * b.ne[i])), 4) AS cos
  FROM nv a, nv b WHERE a.vec_id <> b.vec_id
),
rk AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src
                            ORDER BY cos DESC, dst ASC) AS rank
  FROM sc
)
SELECT src, rank, dst, cos FROM rk WHERE rank <= 5
"""


def _knn_graph_ivf_oracle() -> str:
    from mario_spark.ops.ann import DEFAULT_CENTROID_IDS, IVF_N_PROBE

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
probe AS (SELECT vec_id AS src, cell FROM rk WHERE rn <= {IVF_N_PROBE}),
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE
           / sqrt(list_sum(list_transform(embedding,
               y -> y::DOUBLE * y::DOUBLE)))) AS ne
  FROM embeddings
),
sc AS (
  SELECT p.src, a.vec_id AS dst,
         round(list_sum(list_transform(generate_series(1, 64),
               i -> s.ne[i] * t.ne[i])), 4) AS cos
  FROM probe p
  JOIN assign a USING (cell)
  JOIN nv s ON s.vec_id = p.src
  JOIN nv t ON t.vec_id = a.vec_id
  WHERE a.vec_id <> p.src
),
rk2 AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src
                            ORDER BY cos DESC, dst ASC) AS rank
  FROM sc
)
SELECT src, rank, dst, cos FROM rk2 WHERE rank <= 5
"""


ANN_BRUTE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
sc AS (
  SELECT q.query_id, e.vec_id,
         round({_COS64.format(A="q.qe", B="e.embedding")}, 4) AS cos
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= 10
"""


def _ann_ivf_oracle() -> str:
    from mario_spark.ops.ann import DEFAULT_CENTROID_IDS, IVF_N_PROBE

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS query_id, cell FROM rk
  WHERE rn <= {IVF_N_PROBE} AND vec_id IN (0, 1, 2, 3, 4)
),
sc AS (
  SELECT qp.query_id, a.vec_id,
         round({_COS64.format(A="q.embedding", B="e.embedding")}, 4) AS cos
  FROM qprobe qp
  JOIN assign a USING (cell)
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = qp.query_id
  WHERE a.vec_id <> qp.query_id
),
rk2 AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, vec_id, cos FROM rk2 WHERE rank <= 10
"""


def _ivf_recall_audit_oracle() -> str:
    """Recall/probe curve of the IVF families vs their exact twins,
    reproduced from first principles: exact graph/topk and each probe
    level's IVF graph/topk are rebuilt in SQL with the engines' own
    deterministic tie-breaks (4dp cosine DESC, id ASC), then each
    exact edge set LEFT-joins its approximation to count hits."""
    from mario_spark.ops.ann import AUDIT_PROBE_LEVELS, DEFAULT_CENTROID_IDS

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    cos_nv = (
        "round(list_sum(list_transform(generate_series(1, 64), "
        "i -> s.ne[i] * t.ne[i])), 4)"
    )
    lvl_ctes, rows = [], []
    for p in AUDIT_PROBE_LEVELS:
        lvl_ctes.append(f"""ivg_{p} AS (
  SELECT src, dst FROM (
    SELECT pr.vec_id AS src, a.vec_id AS dst,
           row_number() OVER (PARTITION BY pr.vec_id
               ORDER BY {cos_nv} DESC, a.vec_id ASC) AS rank
    FROM (SELECT vec_id, cell FROM rk WHERE rn <= {p}) pr
    JOIN assign a USING (cell)
    JOIN nv s ON s.vec_id = pr.vec_id
    JOIN nv t ON t.vec_id = a.vec_id
    WHERE a.vec_id <> pr.vec_id
  ) WHERE rank <= 5
),
ivt_{p} AS (
  SELECT src, dst FROM (
    SELECT pr.vec_id AS src, a.vec_id AS dst,
           row_number() OVER (PARTITION BY pr.vec_id
               ORDER BY {cos_nv} DESC, a.vec_id ASC) AS rank
    FROM (SELECT vec_id, cell FROM rk
          WHERE rn <= {p} AND vec_id IN (0, 1, 2, 3, 4)) pr
    JOIN assign a USING (cell)
    JOIN nv s ON s.vec_id = pr.vec_id
    JOIN nv t ON t.vec_id = a.vec_id
    WHERE a.vec_id <> pr.vec_id
  ) WHERE rank <= 10
)""")
        for fam, ex, iv in (
            ("graph", "exg", f"ivg_{p}"),
            ("topk", "ext", f"ivt_{p}"),
        ):
            rows.append(f"""SELECT '{fam}' AS family, {p}::BIGINT AS n_probe,
       count(*)::BIGINT AS n_true,
       count(iv.src)::BIGINT AS n_hit,
       round(count(iv.src)::DOUBLE / count(*), 4) AS recall
FROM {ex} LEFT JOIN {iv} iv ON iv.src = {ex}.src AND iv.dst = {ex}.dst""")
    return f"""
WITH nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE
           / sqrt(list_sum(list_transform(embedding,
               y -> y::DOUBLE * y::DOUBLE)))) AS ne
  FROM embeddings
),
exg AS (
  SELECT src, dst FROM (
    SELECT s.vec_id AS src, t.vec_id AS dst,
           row_number() OVER (PARTITION BY s.vec_id
               ORDER BY {cos_nv} DESC, t.vec_id ASC) AS rank
    FROM nv s, nv t WHERE s.vec_id <> t.vec_id
  ) WHERE rank <= 5
),
ext AS (
  SELECT src, dst FROM (
    SELECT s.vec_id AS src, t.vec_id AS dst,
           row_number() OVER (PARTITION BY s.vec_id
               ORDER BY {cos_nv} DESC, t.vec_id ASC) AS rank
    FROM nv s, nv t
    WHERE s.vec_id <> t.vec_id AND s.vec_id IN (0, 1, 2, 3, 4)
  ) WHERE rank <= 10
),
cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
{",".join(lvl_ctes)}
{" UNION ALL ".join(rows)}
ORDER BY family, n_probe
"""


def _ann_lsh_oracle() -> str:
    from mario_spark.ops.ann import hyperplanes

    hp = hyperplanes()
    sig_terms = []
    for i, row in enumerate(hp):
        lits = ", ".join(str(float(v)) for v in row)
        dot = (
            f"list_sum(list_transform(generate_series(1, 64), "
            f"i -> embedding[i]::DOUBLE * ([{lits}])[i]))"
        )
        sig_terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    sig = " + ".join(sig_terms)
    return f"""
WITH e AS (SELECT vec_id, embedding, {sig} AS bucket FROM embeddings),
pairs AS (
  SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_COS64.format(A="a.embedding", B="b.embedding")}, 4) AS cos
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY cos DESC, vec_a ASC, vec_b ASC) AS rank
  FROM pairs
)
SELECT rank, bucket, vec_a, vec_b, cos FROM rk WHERE rank <= 20
"""


def _lang_id_oracle() -> str:
    from mario_spark.ops.textstats import STOPWORDS

    toks = r"regexp_extract_all(lower(text), '[\p{L}\p{N}]+')"
    cols, langs = [], sorted(STOPWORDS)
    for lg in langs:
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        cols.append(
            f"len(list_filter({toks}, t -> list_contains([{lst}], t))) AS c_{lg}"
        )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
WITH c AS (SELECT doc_id, {", ".join(cols)} FROM documents)
SELECT doc_id, {pred} AS pred_lang, {best}::BIGINT AS hits FROM c
"""


def _quality_oracle() -> str:
    from mario_spark.ops.textstats import STOPWORDS

    toks = r"regexp_extract_all(lower(text), '[\p{L}\p{N}]+')"
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         len(list_filter({toks}, t -> list_contains([{en}], t))) AS n_stop,
         len(text) AS n_chars,
         len(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]+', '', 'g')) AS n_punct,
         list_sum(list_transform({toks}, t -> len(t))) AS sum_wlen
  FROM documents
)
SELECT doc_id,
       n_tokens::BIGINT AS n_tokens,
       round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
       round(n_stop / greatest(n_tokens, 1), 4) AS stop_ratio,
       round(coalesce(sum_wlen, 0) / greatest(n_tokens, 1), 4) AS mean_wlen,
       round(
         (CASE WHEN n_tokens BETWEEN 50 AND 1024 THEN 0.4::DOUBLE ELSE 0.0 END)
         + (CASE WHEN round(n_stop / greatest(n_tokens, 1), 4) >= 0.01 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN round(n_punct / greatest(n_chars, 1), 4) <= 0.1 THEN 0.3 ELSE 0.0 END),
       4) AS quality
FROM d
"""


def collapse_inner_hits_sql(
    k: int = 5, inner: int = 3, k1: float = 1.2, b: float = 0.75
) -> str:
    """collapse + inner_hits oracle: surviving top-k groups each carry
    their group's top-`inner` hits. Mirrors suite.collapse_inner_hits."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         round(sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ), 4) AS score
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
jr AS (
  SELECT sc.query_id, sc.doc_id, d.lang, sc.score,
         row_number() OVER (PARTITION BY sc.query_id, d.lang
                            ORDER BY sc.score DESC, sc.doc_id ASC) AS inner_rank
  FROM sc JOIN documents d USING (doc_id)
),
grp AS (
  SELECT query_id, lang,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM jr WHERE inner_rank = 1
)
SELECT jr.query_id, grp.rank, jr.lang,
       jr.inner_rank::BIGINT AS inner_rank, jr.doc_id, jr.score
FROM jr JOIN grp USING (query_id, lang)
WHERE grp.rank <= {k} AND jr.inner_rank <= {inner}
"""


def _dedup_keep_best_oracle() -> str:
    return f"""
WITH j AS (
  SELECT c.comp, c.doc_id, q.quality
  FROM ({DEDUP_COMPONENTS}) c JOIN ({_quality_oracle()}) q USING (doc_id)
),
r AS (
  SELECT comp, doc_id, quality,
         row_number() OVER (PARTITION BY comp
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM j
)
SELECT comp, doc_id, quality FROM r WHERE rn = 1
"""


def _clean_corpus_oracle(quality_min: float = 0.65) -> str:
    """Composed C4-style cascade, mirroring ops/pipeline.clean_corpus:
    every stage reuses the verified per-op oracle arithmetic."""
    from mario_spark.ops.textstats import STOPWORDS

    toks = r"regexp_extract_all(lower(text), '[\p{L}\p{N}]+')"
    cols, langs = [], sorted(STOPWORDS)
    for lg in langs:
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        cols.append(
            f"len(list_filter({toks}, t -> list_contains([{lst}], t))) AS c_{lg}"
        )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH c AS (SELECT doc_id, {", ".join(cols)} FROM documents),
lid AS (SELECT doc_id, {pred} AS pred_lang FROM c),
qd AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         len(list_filter({toks}, t -> list_contains([{en}], t))) AS n_stop,
         len(text) AS n_chars,
         len(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]+', '', 'g')) AS n_punct
  FROM documents
),
q AS (
  SELECT doc_id,
         round(
           (CASE WHEN n_tokens BETWEEN 50 AND 1024 THEN 0.4::DOUBLE ELSE 0.0 END)
           + (CASE WHEN round(n_stop / greatest(n_tokens, 1), 4) >= 0.01 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN round(n_punct / greatest(n_chars, 1), 4) <= 0.1 THEN 0.3 ELSE 0.0 END),
         4) AS quality
  FROM qd
),
k AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM documents GROUP BY 1),
dup AS (
  SELECT d.doc_id, (d.doc_id != k.keeper) AS dup_loser
  FROM documents d JOIN k ON md5(d.text) = k.h
),
arrs AS (SELECT doc_id, {toks} AS arr FROM documents),
okd AS (SELECT doc_id, arr FROM arrs WHERE len(arr) >= 8),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 7),
                p -> md5(array_to_string(arr[p:p+7], ' ')))) AS g
  FROM okd
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 7),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 != 7),
contam AS (SELECT DISTINCT doc_id FROM train SEMI JOIN bench USING (g))
SELECT d.doc_id,
       (lid.pred_lang = 'en')::BIGINT AS is_en,
       q.quality,
       dup.dup_loser::BIGINT AS dup_loser,
       (d.doc_id IN (SELECT doc_id FROM contam))::BIGINT AS contaminated,
       ( lid.pred_lang = 'en' AND q.quality > {quality_min}
         AND NOT dup.dup_loser
         AND d.doc_id NOT IN (SELECT doc_id FROM contam) )::BIGINT AS keep
FROM documents d
JOIN lid USING (doc_id)
JOIN q   USING (doc_id)
JOIN dup USING (doc_id)
"""


WINNOW_FINGERPRINTS = """
WITH pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(len(text) - 7, 0))) AS p
  FROM documents
),
h AS (SELECT doc_id, p, md5(substr(text, p, 8)) AS g FROM pos),
w AS (
  SELECT doc_id,
         min(g) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
  FROM h
)
SELECT doc_id, count(DISTINCT wm)::BIGINT AS n_fp, min(wm) AS fp_min
FROM w GROUP BY doc_id
"""

MULTIMODAL_DECODE = r"""
WITH b AS (
  SELECT doc_id,
         (64 + n_chars % 577)::INT AS width,
         (64 + doc_id % 419)::INT AS height,
         regexp_replace(substr(text, 1, 32), '[^\x20-\x7e]', '?', 'g') AS body
  FROM documents
)
SELECT doc_id, width, height,
       coalesce(round(list_sum(list_transform(generate_series(1, len(body)),
                                              i -> ascii(substr(body, i, 1))))::DOUBLE
                      / nullif(len(body), 0), 4), 0.0) AS mean_luma,
       (12 + len(body))::BIGINT AS n_bytes
FROM b
"""

EVENTS_SESSIONIZED = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
),
f AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000
              THEN 1 ELSE 0 END AS flag
  FROM g
),
s AS (
  SELECT user_id, ts, value,
         sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM f
)
SELECT user_id, session_id,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
FROM s GROUP BY 1, 2
"""

EVENTS_PROPS_JSON = """
WITH k AS (
  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events
)
SELECT event_type, count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_k
FROM k WHERE k >= 50 GROUP BY 1
"""

EVENTS_WINDOWED = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY 1, 2
"""

GEO_DISTANCE = """
WITH g AS (
  SELECT doc_id,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
),
d AS (
  SELECT doc_id,
         round(2.0 * 6371.0088 * asin(sqrt(
           pow(sin((radians(0.0) - radians(lat)) / 2), 2)
           + cos(radians(lat)) * cos(radians(0.0))
             * pow(sin((radians(0.0) - radians(lon)) / 2), 2)
         )), 3) AS distance_km
  FROM g
)
SELECT doc_id, distance_km FROM d WHERE distance_km <= 5000.0
"""

GEO_BBOX = """
WITH g AS (
  SELECT doc_id,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
)
SELECT doc_id, round(lon, 4) AS lon, round(lat, 4) AS lat
FROM g
WHERE lon >= -50 AND lon <= 50 AND lat >= -30 AND lat <= 30
"""

COMPLETION_SUGGEST = """
WITH v AS (
  SELECT doc_id AS key, split_part(text, ' ', 1) AS value,
         lower(regexp_replace(split_part(text, ' ', 1), '[ ./;=,-]', '', 'g')) AS norm
  FROM documents
),
p AS (
  SELECT DISTINCT substr(norm, 1, plen) AS prefix, value, key
  FROM (SELECT key, value, norm,
               unnest(generate_series(1, least(len(norm), 12))) AS plen
        FROM v WHERE len(norm) > 0)
),
hits AS (SELECT DISTINCT value, key FROM p WHERE prefix = 'ha')
SELECT value, key FROM hits ORDER BY value, key LIMIT 5
"""


COMPLETION_SUGGEST_CONTEXT = """
WITH v AS (
  SELECT doc_id AS key, split_part(text, ' ', 1) AS value, lang AS context,
         lower(regexp_replace(split_part(text, ' ', 1), '[ ./;=,-]', '', 'g')) AS norm
  FROM documents
),
p AS (
  SELECT DISTINCT substr(norm, 1, plen) AS prefix, value, key, context
  FROM (SELECT key, value, norm, context,
               unnest(generate_series(1, least(len(norm), 12))) AS plen
        FROM v WHERE len(norm) > 0)
),
ctx(context, boost) AS (VALUES ('en', 2.0), ('de', 1.0)),
hits AS (
  SELECT value, key, round(max(boost), 4) AS score
  FROM p JOIN ctx USING (context)
  WHERE prefix = 'ha'
  GROUP BY 1, 2
)
SELECT score, value, key FROM hits
ORDER BY score DESC, value, key LIMIT 5
"""


# ------------------- round-2: remaining ES agg family + count/constant
AGG_RARE_TERMS = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2)
SELECT term AS key, count(*)::BIGINT AS doc_count
FROM tf GROUP BY 1 HAVING count(*) <= 2
"""

AGG_MULTI_TERMS = """
SELECT lang, source, count(*)::BIGINT AS doc_count
FROM documents GROUP BY 1, 2
ORDER BY doc_count DESC, lang ASC, source ASC LIMIT 10
"""

AGG_TERMS_ORDER_METRIC = """
SELECT source AS key, count(*)::BIGINT AS doc_count,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY 1
ORDER BY avg_chars DESC, key ASC LIMIT 8
"""

AGG_ADJACENCY_MATRIX = """
WITH c AS (
  SELECT sum(CASE WHEN lower(lang) = 'en' THEN 1 ELSE 0 END)::BIGINT AS c_en,
         sum(CASE WHEN lower(lang) = 'en' AND contains(text, 'hash') THEN 1 ELSE 0 END)::BIGINT AS c_en_hash,
         sum(CASE WHEN lower(lang) = 'en' AND n_chars < 500 THEN 1 ELSE 0 END)::BIGINT AS c_en_short,
         sum(CASE WHEN contains(text, 'hash') THEN 1 ELSE 0 END)::BIGINT AS c_hash,
         sum(CASE WHEN contains(text, 'hash') AND n_chars < 500 THEN 1 ELSE 0 END)::BIGINT AS c_hash_short,
         sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0 END)::BIGINT AS c_short
  FROM documents
)
SELECT 'en' AS key, c_en AS doc_count FROM c
UNION ALL SELECT 'en&has_hash', c_en_hash FROM c
UNION ALL SELECT 'en&short', c_en_short FROM c
UNION ALL SELECT 'has_hash', c_hash FROM c
UNION ALL SELECT 'has_hash&short', c_hash_short FROM c
UNION ALL SELECT 'short', c_short FROM c
"""

AGG_AUTO_DATE_HISTOGRAM = """
WITH span AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
choice AS (
  SELECT CASE
    WHEN date_diff('day', mn::DATE, mx::DATE) + 1 <= 40 THEN 'day'
    WHEN date_diff('month', date_trunc('month', mn), date_trunc('month', mx)) + 1 <= 40 THEN 'month'
    ELSE 'year' END AS iv
  FROM span
)
SELECT strftime(date_trunc(c.iv, e.ts), '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS doc_count,
       c.iv AS interval_chosen
FROM events e, choice c GROUP BY 1, 3
"""

AGG_GEO_DISTANCE_RINGS = """
WITH g AS (
  SELECT doc_id,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
),
d AS (
  SELECT round(2.0 * 6371.0088 * asin(sqrt(
           pow(sin((radians(0.0) - radians(lat)) / 2), 2)
           + cos(radians(lat)) * cos(radians(0.0))
             * pow(sin((radians(0.0) - radians(lon)) / 2), 2)
         )), 3) AS distance_km
  FROM g
),
rings(key, lo, hi) AS (VALUES
  ('0-2000', 0.0, 2000.0),
  ('2000-5000', 2000.0, 5000.0),
  ('5000-10000', 5000.0, 10000.0),
  ('10000+', 10000.0, 'inf'::DOUBLE))
SELECT r.key, count(d.distance_km)::BIGINT AS doc_count
FROM rings r LEFT JOIN d
  ON d.distance_km >= r.lo AND d.distance_km < r.hi
GROUP BY 1
"""

AGG_BUCKET_SELECTOR = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         count(*)::BIGINT AS doc_count,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1
)
SELECT bucket, doc_count, sum_value,
       round(sum_value / doc_count, 4) AS avg_value
FROM b WHERE round(sum_value / doc_count, 4) > 50.0
"""

AGG_GEO_CENTROID = """
WITH g AS (
  SELECT lang,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
)
SELECT lang AS key, count(*)::BIGINT AS doc_count,
       round(avg(lon), 4) AS centroid_lon,
       round(avg(lat), 4) AS centroid_lat
FROM g GROUP BY 1
"""

AGG_GEO_BOUNDS = """
WITH g AS (
  SELECT lang,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
)
SELECT lang AS key,
       round(min(lon), 4) AS left_lon,
       round(max(lat), 4) AS top_lat,
       round(max(lon), 4) AS right_lon,
       round(min(lat), 4) AS bottom_lat
FROM g GROUP BY 1
"""

AGG_MATRIX_STATS = """
WITH d AS (
  SELECT n_chars::DOUBLE AS a,
         len(string_split(text, ' '))::DOUBLE AS b
  FROM documents
)
SELECT count(*)::BIGINT AS doc_count,
       round(avg(a), 4) AS mean_a,
       round(avg(b), 4) AS mean_b,
       round(var_pop(a), 4) AS variance_a,
       round(var_pop(b), 4) AS variance_b,
       round(covar_pop(a, b), 4) AS covariance,
       round(corr(a, b), 4) AS correlation
FROM d
"""

AGG_T_TEST = """
WITH s AS (
  SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS n1,
         sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS n2,
         avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
         avg(CASE WHEN event_type <> 'purchase' THEN value END) AS m2,
         var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
         var_samp(CASE WHEN event_type <> 'purchase' THEN value END) AS v2
  FROM events
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_value
FROM s
"""

AGG_BOXPLOT = """
SELECT lang AS key,
       round(min(n_chars::DOUBLE), 4) AS min_v,
       round(quantile_cont(n_chars::DOUBLE, 0.25), 4) AS q1,
       round(quantile_cont(n_chars::DOUBLE, 0.5), 4) AS q2,
       round(quantile_cont(n_chars::DOUBLE, 0.75), 4) AS q3,
       round(max(n_chars::DOUBLE), 4) AS max_v
FROM documents GROUP BY 1
"""

AGG_TOP_METRICS = """
SELECT lang AS key, n_chars AS top_sort, doc_id AS metric
FROM (
  SELECT lang, n_chars, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
"""

def _bpe_encode_oracle() -> str:
    """BPE apply oracle: the same pinned replace() chain as
    ops.textstats.bpe_encode_stats, private-use symbols emitted via
    chr() so the SQL stays ASCII."""
    from mario_spark.ops.textstats import BPE_APPLY_RULES

    def _sqlstr(s: str) -> str:
        parts, buf = [], ""
        for c in s:
            if ord(c) > 127:
                if buf:
                    parts.append(f"'{buf}'")
                    buf = ""
                parts.append(f"chr({ord(c)})")
            else:
                buf += c
        if buf:
            parts.append(f"'{buf}'")
        return "(" + " || ".join(parts) + ")" if parts else "''"

    expr = "text"
    for search, sym in BPE_APPLY_RULES:
        expr = f"replace({expr}, {_sqlstr(search)}, {_sqlstr(sym)})"
    return f"""
WITH enc AS (
  SELECT doc_id, {expr} AS e, length(text)::DOUBLE AS nc FROM documents
)
SELECT doc_id, length(e)::BIGINT AS n_syms,
       coalesce(round(nc / nullif(length(e), 0), 4), 0.0) AS fertility
FROM enc
"""


BPE_PAIR_COUNTS = r"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS w
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                i -> substring(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2
),
g AS (SELECT pair, count(*)::BIGINT AS count FROM pairs GROUP BY 1)
SELECT pair, count FROM g ORDER BY count DESC, pair ASC LIMIT 20
"""

TERMVECTORS = f"""
WITH arrs AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
tv AS (
  SELECT doc_id, arr[p] AS term, count(*)::BIGINT AS term_freq,
         string_agg(p::VARCHAR, ',' ORDER BY p) AS positions
  FROM arrs, unnest(generate_series(1, len(arr))) AS u(p)
  WHERE doc_id < 3
  GROUP BY 1, 2
),
dfr AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM (SELECT doc_id, unnest(arr) AS term FROM arrs) GROUP BY 1
)
SELECT tv.doc_id, tv.term, tv.term_freq, tv.positions, dfr.doc_freq
FROM tv JOIN dfr USING (term)
"""

SLICED_SCAN = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 4 = 1
"""

SCRIPTED_METRIC_MAD = """
SELECT lang, round(mad(n_chars), 4) AS mad FROM documents GROUP BY 1
"""

CHUNK_DEDUP = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS arr
  FROM documents
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(arr, (i - 1) * 20 + 1, i * 20), ' '))
           AS digest,
         (doc_id * 1048576 + (i - 1))::BIGINT AS okey
  FROM base,
       unnest(generate_series(1, cast(ceil(len(arr) / 20.0) AS INT))) AS t(i)
  WHERE len(arr) > 0
),
first AS (SELECT digest, min(okey) AS first_okey FROM chunks GROUP BY 1),
marked AS (
  SELECT c.doc_id, (c.okey > f.first_okey) AS is_dup
  FROM chunks c JOIN first f USING (digest)
),
stats AS (
  SELECT doc_id, count(*)::BIGINT AS n_chunks,
         sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped
  FROM marked GROUP BY 1
)
SELECT b.doc_id,
       coalesce(s.n_chunks, 0)::BIGINT AS n_chunks,
       coalesce(s.n_dropped, 0)::BIGINT AS n_dropped,
       CASE WHEN coalesce(s.n_chunks, 0) > 0
            THEN round(s.n_dropped / s.n_chunks::DOUBLE, 4)
            ELSE 0.0 END AS dropped_frac
FROM base b LEFT JOIN stats s USING (doc_id)
"""


def _semdedup_oracle(threshold: float = 0.35) -> str:
    """SemDeDup oracle: same sampled-centroid assignment as the IVF
    oracle, pair check within cells on rounded cosine, greedy min-id
    keeper."""
    from mario_spark.ops.ann import DEFAULT_CENTROID_IDS

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
dropped AS (
  SELECT DISTINCT x.vec_id
  FROM assign x
  JOIN assign y ON x.cell = y.cell AND x.vec_id > y.vec_id
  JOIN embeddings a ON a.vec_id = x.vec_id
  JOIN embeddings b ON b.vec_id = y.vec_id
  WHERE round({_COS64.format(A="a.embedding", B="b.embedding")}, 4)
        >= {threshold}
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS keep
FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
"""


PII_REDACT = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com from 10.0.'
              || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
              || ' call +1 555 ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
              || ' 1234' AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
           AS n_emails,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '<EMAIL>', 'g') AS t
  FROM aug
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
         regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
           '<IP>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_ips,
         len(regexp_extract_all(t,
           '\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{3,4}\b'))::BIGINT
           AS n_phones,
         regexp_replace(t, '\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{3,4}\b',
           '<PHONE>', 'g') AS t
  FROM s2
)
SELECT doc_id, n_emails, n_ips, n_phones, md5(t) AS text_md5 FROM s3
"""

AGG_STATS_BUCKET = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1
)
SELECT count(*)::BIGINT AS n_buckets,
       round(min(sum_value), 4) AS min_v,
       round(max(sum_value), 4) AS max_v,
       round(avg(sum_value), 4) AS avg_v,
       round(sum(sum_value), 4) AS sum_v,
       round(quantile_cont(sum_value, 0.5), 4) AS p50,
       round(quantile_cont(sum_value, 0.9), 4) AS p90
FROM b
"""

AGG_BUCKET_SORT = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         count(*)::BIGINT AS doc_count,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1
),
r AS (
  SELECT bucket, doc_count, sum_value,
         row_number() OVER (ORDER BY sum_value DESC, bucket ASC)::BIGINT
           AS rank
  FROM b
)
SELECT bucket, doc_count, sum_value, rank FROM r WHERE rank <= 5
"""

AGG_SERIAL_DIFF = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         count(*)::BIGINT AS doc_count
  FROM events GROUP BY 1
)
SELECT bucket, doc_count,
       coalesce(doc_count - lag(doc_count, 7) OVER (ORDER BY bucket),
                0)::BIGINT AS sdiff
FROM b
"""

AGG_CUMULATIVE_CARDINALITY = """
WITH fs AS (
  SELECT user_id,
         min(strftime(date_trunc('day', ts), '%Y-%m-%d')) AS day
  FROM events GROUP BY 1
),
np AS (SELECT day, count(*)::BIGINT AS new_users FROM fs GROUP BY 1),
days AS (
  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events
),
j AS (
  SELECT d.day AS bucket, coalesce(np.new_users, 0)::BIGINT AS new_users
  FROM days d LEFT JOIN np ON np.day = d.day
)
SELECT bucket, new_users,
       (sum(new_users) OVER (ORDER BY bucket))::BIGINT AS cum_users
FROM j
"""

AGG_MAX_BUCKET = """
WITH b AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
         round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1
)
SELECT bucket, sum_value FROM b
ORDER BY sum_value DESC, bucket ASC LIMIT 1
"""


def match_count_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
q(query_id, term) AS (VALUES {_query_values()}),
cand AS (
  SELECT DISTINCT q.query_id, t.doc_id FROM q JOIN toks t USING (term)
)
SELECT query_id, count(*)::BIGINT AS total_hits FROM cand GROUP BY 1
"""


def constant_score_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
q(query_id, term) AS (VALUES {_query_values()}),
cand AS (
  SELECT DISTINCT q.query_id, t.doc_id FROM q JOIN toks t USING (term)
),
r AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_id ASC)::BIGINT AS rank
  FROM cand
)
SELECT query_id, doc_id, 1.2::DOUBLE AS score, rank FROM r WHERE rank <= 10
"""


NEAR_DEDUP_SURVIVORS = f"""
SELECT doc_id FROM ({DEDUP_COMPONENTS}) c WHERE doc_id = comp
"""



def _span_scaffold_sql(q_rows: list[str], ph_selects: list[str], k: int,
                       k1: float = 1.2, b: float = 0.75) -> str:
    """Shared scaffold for span-query oracles: same corpus CTEs and
    PhraseWeight scoring tail as phrase_topk_sql; callers supply the
    per-query idf term rows and ptf SELECTs."""
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES {", ".join(q_rows)}),
qidf AS (
  SELECT q.query_id,
         sum(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))) AS sidf
  FROM q JOIN dfr USING (term) CROSS JOIN st
  GROUP BY 1
),
ph AS ({" UNION ALL ".join(ph_selects)}),
sc AS (
  SELECT ph.query_id::BIGINT AS query_id, ph.doc_id,
         qidf.sidf * (ph.ptf * ({k1} + 1.0))
           / (ph.ptf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) AS raw
  FROM ph
  JOIN dl   USING (doc_id)
  JOIN qidf USING (query_id)
  CROSS JOIN st
  WHERE ph.ptf > 0
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def _chain_count_expr(terms: list[str]) -> str:
    m = len(terms) - 1
    conds = " AND ".join(
        f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    return (
        f"len(list_filter(generate_series(1, greatest(len(arr) - {m}, 0)), "
        f"p -> {conds}))"
    )


def span_or_sql(k: int = 10) -> str:
    """SpanOrQuery oracle: ptf = Σ per-alternative chain counts; sidf
    over the DISTINCT terms of every alternative (df > 0 only — the
    dfr join drops OOV terms, mirroring Lucene's buildSimWeight)."""
    from mario_spark.fixtures import DOCUMENTS_SPAN_OR_SET

    q_rows, ph_selects = [], []
    for qid, chains in DOCUMENTS_SPAN_OR_SET:
        terms_by_chain = [py_tokenize(c) for c in chains]
        for t in dict.fromkeys(t for ts in terms_by_chain for t in ts):
            q_rows.append(f"({qid}, '{t}')")
        parts = " + ".join(
            _chain_count_expr(ts) for ts in terms_by_chain
        )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, ({parts})::DOUBLE AS ptf "
            f"FROM docs_t"
        )
    return _span_scaffold_sql(q_rows, ph_selects, k)


def span_not_sql(k: int = 10, pre: int = 1, post: int = 1) -> str:
    """SpanNotQuery oracle: include-chain starts whose span widened by
    [pre, post] holds no exclude-term occurrence; sidf = include terms
    only."""
    from mario_spark.fixtures import DOCUMENTS_SPAN_NOT_SET

    q_rows, ph_selects = [], []
    for qid, inc, exc in DOCUMENTS_SPAN_NOT_SET:
        terms = py_tokenize(inc)
        for t in dict.fromkeys(terms):
            q_rows.append(f"({qid}, '{t}')")
        m = len(terms) - 1
        conds = " AND ".join(
            f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        no_exc = (
            f"len(list_filter(generate_series(greatest(p - {pre}, 1), "
            f"least(p + {m} + {post}, len(arr))), "
            f"j -> arr[j] = '{exc}')) = 0"
        )
        ptf = (
            f"len(list_filter(generate_series(1, greatest(len(arr) - {m}, 0)), "
            f"p -> {conds} AND {no_exc}))::DOUBLE"
        )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, {ptf} AS ptf FROM docs_t"
        )
    return _span_scaffold_sql(q_rows, ph_selects, k)



def span_first_sql(k: int = 10) -> str:
    """SpanFirstQuery oracle: chain starts p (1-based) qualify iff
    p + m <= end (exclusive 0-based span end = (p-1) + n = p + m)."""
    from mario_spark.fixtures import DOCUMENTS_SPAN_FIRST_SET

    q_rows, ph_selects = [], []
    for qid, phrase_text, end in DOCUMENTS_SPAN_FIRST_SET:
        terms = py_tokenize(phrase_text)
        for t in dict.fromkeys(terms):
            q_rows.append(f"({qid}, '{t}')")
        m = len(terms) - 1
        conds = " AND ".join(
            f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        ptf = (
            f"len(list_filter(generate_series(1, greatest(len(arr) - {m}, 0)), "
            f"p -> {conds} AND p + {m} <= {end}))::DOUBLE"
        )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, {ptf} AS ptf FROM docs_t"
        )
    return _span_scaffold_sql(q_rows, ph_selects, k)


def pinned_topk_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Pinned-query oracle: same BM25 CTEs as bm25_topk_sql; pinned
    rows take ranks 1..|pins| in pin order with their (rounded) organic
    score or 0.0, organic rows are anti-joined and offset by the pin
    count."""
    from mario_spark.fixtures import DOCUMENTS_PINNED_SET

    pin_rows = ", ".join(
        f"({qid}, {did}, {i + 1})"
        for qid, ids in DOCUMENTS_PINNED_SET
        for i, did in enumerate(ids)
    )
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         round(sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ), 4)
           AS score
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
pins(query_id, doc_id, pin_ord) AS (VALUES {pin_rows}),
np AS (SELECT query_id, count(*)::BIGINT AS n FROM pins GROUP BY 1),
pinned AS (
  SELECT p.query_id::BIGINT AS query_id, p.pin_ord::BIGINT AS rank,
         p.doc_id::BIGINT AS doc_id, coalesce(s.score, 0.0) AS score
  FROM pins p LEFT JOIN sc s
    ON s.query_id = p.query_id AND s.doc_id = p.doc_id
),
org AS (
  SELECT s.query_id,
         (np.n + row_number() OVER (PARTITION BY s.query_id
             ORDER BY s.score DESC, s.doc_id ASC))::BIGINT AS rank,
         s.doc_id, s.score
  FROM sc s
  ANTI JOIN pins p
    ON p.query_id = s.query_id AND p.doc_id = s.doc_id
  JOIN np ON np.query_id = s.query_id
)
SELECT * FROM (SELECT * FROM pinned UNION ALL SELECT * FROM org)
WHERE rank <= {k}
"""


def rank_feature_sql(
    k: int = 10,
    boost: float = 2.0,
    pivot: float = 200.0,
    k1: float = 1.2,
    b: float = 0.75,
    function: str = "saturation",
    exponent: float = 0.6,
    scaling_factor: float = 1.0,
) -> str:
    """rank_feature oracle: BM25 raw + boost*fn(f) for ES's three
    functions (saturation/log/sigmoid), f = character length of the doc
    text, rounded once at rank time (identical to Spark's topk()
    rounding of the composed score)."""
    fns = {
        "saturation": f"ft.feat / (ft.feat + {pivot})",
        "log": f"ln({scaling_factor} + ft.feat)",
        "sigmoid": (
            f"pow(ft.feat, {exponent})"
            f" / (pow(ft.feat, {exponent}) + {float(pivot) ** exponent})"
        ),
    }
    fn = fns[function]
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
ft AS (SELECT doc_id, length(text)::DOUBLE AS feat FROM documents),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT sc.query_id, sc.doc_id,
         round(sc.raw + {boost} * ({fn}), 4) AS score
  FROM sc JOIN ft USING (doc_id)
),
rr AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM rk
)
SELECT query_id, rank, doc_id, score FROM rr WHERE rank <= {k}
"""


DUP_NGRAM_FRAC = r"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS arr
  FROM documents
),
base AS (
  SELECT doc_id, greatest(len(arr) - 7, 0)::BIGINT AS n_grams, arr FROM arrs
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(arr) - 7),
                p -> md5(array_to_string(arr[p:p+7], ' ')))) AS g
  FROM base WHERE n_grams > 0
),
per_doc AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2),
gdf AS (SELECT g, count(*) AS doc_df FROM per_doc GROUP BY 1),
dup AS (
  SELECT doc_id, sum(cnt) AS dup_occ
  FROM per_doc JOIN gdf USING (g)
  WHERE gdf.doc_df > 1
  GROUP BY 1
)
SELECT b.doc_id, b.n_grams,
       round(coalesce(d.dup_occ, 0) / greatest(b.n_grams, 1), 4) AS dup_frac
FROM base b LEFT JOIN dup d USING (doc_id)
"""



AGG_PERCENTILE_RANKS = """
SELECT lang AS key,
       round(avg(CASE WHEN n_chars::DOUBLE <= 500.0 THEN 1.0 ELSE 0.0 END) * 100.0, 4) AS pr_500,
       round(avg(CASE WHEN n_chars::DOUBLE <= 2000.0 THEN 1.0 ELSE 0.0 END) * 100.0, 4) AS pr_2000
FROM documents GROUP BY 1
"""

AGG_WEIGHTED_AVG = """
WITH w AS (
  SELECT event_type,
         value::DOUBLE AS v,
         json_extract(props, '$.k')::DOUBLE AS w
  FROM events
)
SELECT event_type AS key,
       round(sum(v * w) / sum(CASE WHEN v IS NOT NULL THEN w END), 4)
         AS weighted_avg
FROM w GROUP BY 1
"""



def _sampler_sql(diversified: bool, k1: float = 1.2, b: float = 0.75) -> str:
    """sampler / diversified_sampler oracle: BM25-scored candidates,
    optional per-(query, lang) cap, top-N sample window, terms
    sub-agg over the sample."""
    div_cte = ""
    src = "scl"
    if diversified:
        div_cte = """
div AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, lang
                               ORDER BY score DESC, doc_id ASC) AS dr
  FROM scl
),
divc AS (SELECT * FROM div WHERE dr <= 2),"""
        src = "divc"
    n = 20 if diversified else 50
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         round(sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ), 4) AS score
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
scl AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id)),{div_cte}
smp AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rnk
  FROM {src}
)
SELECT query_id, lang AS key, count(*)::BIGINT AS doc_count
FROM smp WHERE rnk <= {n}
GROUP BY 1, 2
"""



def _geohash_grid_sql() -> str:
    from mario_spark.ops.geo import geohash_sql

    gh = geohash_sql("lon", "lat", 4)
    return f"""
WITH g AS (
  SELECT (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
)
SELECT {gh} AS key, count(*)::BIGINT AS doc_count
FROM g GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 10
"""



IMPORTANCE_SCORE = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
corpus AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1),
tot AS (SELECT sum(ctf) AS nc, count(*)::DOUBLE AS v FROM corpus),
tgt AS (SELECT doc_id FROM documents WHERE source = 'src1'),
ttf AS (
  SELECT term, sum(tf) AS ttf FROM tf SEMI JOIN tgt USING (doc_id) GROUP BY 1
),
ntot AS (SELECT coalesce(sum(ttf), 0.0) AS nt FROM ttf),
lr AS (
  SELECT c.term,
         ln((coalesce(t.ttf, 0.0) + 1.0) / (ntot.nt + tot.v))
       - ln((c.ctf + 1.0) / (tot.nc + tot.v)) AS lr
  FROM corpus c LEFT JOIN ttf t USING (term)
  CROSS JOIN tot CROSS JOIN ntot
)
SELECT tf.doc_id,
       round(sum(tf.tf * lr.lr) / any_value(dl.len), 4) AS imp_score
FROM tf JOIN lr USING (term) JOIN dl USING (doc_id)
GROUP BY 1
"""



ANALYZE_TEXT = f"""
WITH arrs AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents WHERE doc_id < 5
)
SELECT doc_id, p::BIGINT AS pos, arr[p] AS token
FROM arrs, unnest(generate_series(1, len(arr))) AS u(p)
"""

MIXTURE_RESAMPLE = """
WITH g AS (
  SELECT source AS key, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
z AS (SELECT sum(pow(n_docs, 0.7)) AS z FROM g),
r AS (
  SELECT key, n_docs,
         least(1.0, round(pow(n_docs, 0.7) / z.z, 6) * 300.0 / n_docs) AS rate
  FROM g CROSS JOIN z
),
kept AS (
  SELECT d.source AS key, count(*)::BIGINT AS n_kept
  FROM documents d JOIN r ON d.source = r.key
  WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
        / 4503599627370496.0 < r.rate
  GROUP BY 1
)
SELECT r.key, r.n_docs, round(r.rate, 6) AS rate,
       coalesce(kept.n_kept, 0)::BIGINT AS n_kept
FROM r LEFT JOIN kept USING (key)
"""


DOMAIN_MIXTURE_WEIGHTS = """
WITH g AS (
  SELECT source AS key, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
z AS (SELECT sum(pow(n_docs, 0.7)) AS z FROM g)
SELECT key, n_docs, round(pow(n_docs, 0.7) / z.z, 6) AS weight
FROM g CROSS JOIN z
"""



def cross_fields_sql(
    fields: list[tuple[str, str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """cross_fields oracle: blended df = max across fields (capped at
    the field's docCount), per-(query, term, doc) best field, per-doc
    sum — mirrors fields.search_cross_fields exactly."""
    ctes, df_unions, contribs = [], [], []
    for name, expr, boost in fields:
        ctes.append(f"""
toks_{name} AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize({expr})), '{_TOK}')) AS term
  FROM documents
),
tf_{name} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks_{name} GROUP BY 1, 2),
dl_{name} AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks_{name} GROUP BY 1),
st_{name} AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl_{name}),
dfr_{name} AS (SELECT term, count(*)::DOUBLE AS df FROM tf_{name} GROUP BY 1)""")
        df_unions.append(f"SELECT term, df FROM dfr_{name}")
        contribs.append(f"""
SELECT q.query_id::BIGINT AS query_id, tf.term, tf.doc_id,
       {boost} * ln(1.0 + (st.n_docs - least(bdf.bdf, st.n_docs) + 0.5)
                        / (least(bdf.bdf, st.n_docs) + 0.5))
       * (tf.tf * ({k1} + 1.0))
       / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) AS c
FROM q
JOIN tf_{name} tf USING (term)
JOIN bdf USING (term)
JOIN dl_{name} dl ON tf.doc_id = dl.doc_id
CROSS JOIN st_{name} st""")
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{", ".join(ctes)},
bdf AS (
  SELECT term, max(df) AS bdf
  FROM ({" UNION ALL ".join(df_unions)}) GROUP BY 1
),
contrib AS ({" UNION ALL ".join(contribs)}),
best AS (
  SELECT query_id, term, doc_id, max(c) AS c
  FROM contrib GROUP BY 1, 2, 3
),
comb AS (SELECT query_id, doc_id, sum(c) AS raw FROM best GROUP BY 1, 2),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM comb
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""



def _phrase_suggest_oracle(
    max_edits: int = 1, per_position: int = 3, size: int = 2
) -> str:
    """Phrase-suggester oracle: identical candidate rule (dist <=
    max_edits incl. 0, top per (dist, df desc, term)), identical
    collate (bigram chain count over token arrays), identical ranking."""
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SUGGEST_SET

    rows = []
    for iid, t in DOCUMENTS_PHRASE_SUGGEST_SET:
        for pos, term in enumerate(py_tokenize(t)):
            rows.append(f"({iid}, {pos}, '{term}')")
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
inputs(input_id, pos, input) AS (VALUES {", ".join(rows)}),
cand AS (
  SELECT input_id, pos, term, dist FROM (
    SELECT i.input_id, i.pos, d.term,
           levenshtein(i.input, d.term)::BIGINT AS dist, d.df,
           row_number() OVER (
             PARTITION BY i.input_id, i.pos
             ORDER BY levenshtein(i.input, d.term) ASC, d.df DESC,
                      d.term ASC) AS rn
    FROM inputs i JOIN dfr d
      ON levenshtein(i.input, d.term) <= {max_edits}
  ) WHERE rn <= {per_position}
),
phrases AS (
  SELECT a.input_id, a.term AS t0, b.term AS t1,
         (a.dist + b.dist) AS tot_dist
  FROM cand a JOIN cand b
    ON a.input_id = b.input_id AND a.pos = 0 AND b.pos = 1
),
freq AS (
  SELECT p.input_id, p.t0, p.t1, p.tot_dist,
         coalesce(sum(len(list_filter(
           generate_series(1, greatest(len(arr) - 1, 0)),
           q -> arr[q] = p.t0 AND arr[q + 1] = p.t1))), 0)::BIGINT AS freq
  FROM phrases p CROSS JOIN docs_t
  GROUP BY 1, 2, 3, 4
),
rk AS (
  SELECT input_id, t0 || ' ' || t1 AS suggestion, freq, tot_dist,
         row_number() OVER (
           PARTITION BY input_id
           ORDER BY freq DESC, tot_dist ASC, t0 || ' ' || t1 ASC
         )::BIGINT AS rank
  FROM freq WHERE freq > 0
)
SELECT input_id::BIGINT AS input_id, rank, suggestion, freq, tot_dist
FROM rk WHERE rank <= {size}
"""


def terms_set_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """terms_set oracle: BM25 sum over matched terms, HAVING
    count(DISTINCT matched term) >= the query's minimum_should_match —
    mirrors query.search_terms_set."""
    from mario_spark.fixtures import DOCUMENTS_TERMS_SET_SET

    qrows = [
        f"({qid}, '{t}', {m})"
        for qid, terms, m in DOCUMENTS_TERMS_SET_SET
        for t in dict.fromkeys(terms)
    ]
    return f"""
WITH q(query_id, term, min_match) AS (VALUES {", ".join(qrows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
  HAVING count(DISTINCT tf.term) >= max(q.min_match)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def distance_feature_sql(
    origin: float = 182.0,
    pivot: float = 30.0,
    boost: float = 2.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """distance_feature oracle: BM25 + boost*pivot/(pivot+|day-origin|),
    day = doc_id % 365 — mirrors query.search_distance_feature."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
feat AS (
  SELECT doc_id, (doc_id % 365)::DOUBLE AS value FROM documents
),
fin AS (
  SELECT sc.query_id, sc.doc_id,
         sc.raw + {boost} * {pivot} / ({pivot} + abs(feat.value - {origin})) AS raw
  FROM sc LEFT JOIN feat USING (doc_id)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM fin
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def percolate_sql(n_docs: int = 20) -> str:
    """percolate oracle: a stored query fires for a doc when the doc's
    term set covers all the query's terms — mirrors query.percolate."""
    from mario_spark.fixtures import DOCUMENTS_PERCOLATE_SET

    qrows = [
        f"({qid}, '{t}')"
        for qid, qtext in DOCUMENTS_PERCOLATE_SET
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    return f"""
WITH q(query_id, term) AS (VALUES {", ".join(qrows)}),
qn AS (SELECT query_id, count(DISTINCT term) AS qn FROM q GROUP BY 1),
{_TOKS_CTE},
pres AS (
  SELECT DISTINCT doc_id, term FROM toks WHERE doc_id < {n_docs}
)
SELECT pres.doc_id, q.query_id::BIGINT AS query_id
FROM pres
JOIN q USING (term)
JOIN qn ON q.query_id = qn.query_id
GROUP BY pres.doc_id, q.query_id, qn.qn
HAVING count(DISTINCT pres.term) = qn.qn
"""


def combined_fields_sql(
    fields: list[tuple[str, str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """combined_fields oracle: weighted tf and length merged across
    fields into one pseudo-field, single df/idf over any-field
    occurrence — mirrors fields.search_combined_fields."""
    ctes, tf_unions, len_terms = [], [], []
    for name, expr, w in fields:
        ctes.append(f"""
toks_{name} AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize({expr})), '{_TOK}')) AS term
  FROM documents
),
tf_{name} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks_{name} GROUP BY 1, 2)""")
        tf_unions.append(
            f"SELECT doc_id, term, {w} * tf AS wtf FROM tf_{name}"
        )
        len_terms.append(
            f"{w} * coalesce(len(regexp_extract_all(lower(nfc_normalize({expr})), '{_TOK}')), 0)"
        )
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{", ".join(ctes)},
ctf AS (
  SELECT doc_id, term, sum(wtf) AS tf
  FROM ({" UNION ALL ".join(tf_unions)}) GROUP BY 1, 2
),
clen AS (
  SELECT * FROM (
    SELECT doc_id, ({" + ".join(len_terms)})::DOUBLE AS len
    FROM documents
  ) WHERE len > 0
),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM clen),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM ctf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, ctf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (ctf.tf * ({k1} + 1.0))
              / (ctf.tf + {k1} * (1.0 - {b} + {b} * cl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN ctf USING (term)
  JOIN dfr USING (term)
  JOIN clen cl ON ctf.doc_id = cl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def intervals_sql(k: int = 10) -> str:
    """intervals oracle: identical nested list-lambda anchor count over
    1-based position lists — mirrors phrase.search_intervals_match."""
    from mario_spark.fixtures import DOCUMENTS_INTERVALS_SET

    qrows = [
        f"({qid}, '{t1}', '{t2}', {g})"
        for qid, t1, t2, g in DOCUMENTS_INTERVALS_SET
    ]
    return f"""
WITH q(query_id, t1, t2, g) AS (VALUES {", ".join(qrows)}),
arrs AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
pos AS (
  SELECT doc_id, arr[p] AS term, p
  FROM arrs, unnest(generate_series(1, len(arr))) AS u(p)
),
pl AS (SELECT doc_id, term, list(p ORDER BY p) AS ps FROM pos GROUP BY 1, 2),
m AS (
  SELECT q.query_id::BIGINT AS query_id, a.doc_id,
         len(list_filter(a.ps, p1 ->
             len(list_filter(b.ps, p2 ->
                 p2 > p1 AND p2 - p1 - 1 <= q.g)) > 0))::BIGINT AS matches
  FROM q
  JOIN pl a ON a.term = q.t1
  JOIN pl b ON b.term = q.t2 AND b.doc_id = a.doc_id
),
rk AS (
  SELECT query_id, doc_id, matches,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY matches DESC, doc_id ASC) AS rank
  FROM m WHERE matches > 0
)
SELECT query_id, rank, doc_id, matches FROM rk WHERE rank <= {k}
"""


def rrf_hybrid_sql(
    k: int = 10,
    window: int = 20,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """RRF oracle: lexical BM25 rank window + dense cosine rank window,
    full outer fusion, sum 1/(rrf_k + rank) — mirrors ops/ann.rrf_hybrid."""
    qrows = [
        f"({qid}, '{t}')"
        for qid, qtext in DOCUMENTS_QUERY_SET
        if qid in (0, 1, 2, 3, 4)
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    cos = _COS64.format(A="qv.qe", B="e.embedding")
    return f"""
WITH q(query_id, term) AS (VALUES {", ".join(qrows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS lrank
  FROM sc QUALIFY lrank <= {window}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2, 3, 4)),
dcos AS (
  SELECT qv.query_id, e.vec_id AS doc_id, round({cos}, 4) AS cos
  FROM qv, embeddings e
  WHERE e.vec_id <> qv.query_id
),
den AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id ASC) AS drank
  FROM dcos QUALIFY drank <= {window}
),
fused AS (
  SELECT coalesce(lex.query_id, den.query_id) AS query_id,
         coalesce(lex.doc_id, den.doc_id) AS doc_id,
         round(coalesce(1.0 / ({rrf_k} + lex.lrank), 0.0)
             + coalesce(1.0 / ({rrf_k} + den.drank), 0.0), 6) AS rrf
  FROM lex FULL OUTER JOIN den USING (query_id, doc_id)
),
rk AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, rrf FROM rk WHERE rank <= {k}
"""


LM_CROSS_ENTROPY = f"""
WITH {_TOKS_CTE.replace("toks AS", "toks0 AS")},
arrs AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, arr[p - 1] AS prev, arr[p] AS w
  FROM arrs, unnest(generate_series(2, len(arr))) AS u(p)
  WHERE len(arr) >= 2
),
uni AS (SELECT term AS prev, count(*)::DOUBLE AS c1 FROM toks0 GROUP BY 1),
voc AS (SELECT count(*)::DOUBLE AS v FROM uni),
db AS (SELECT doc_id, prev, w, count(*)::DOUBLE AS n FROM bg GROUP BY 1, 2, 3),
c2 AS (SELECT prev, w, sum(n) AS c2 FROM db GROUP BY 1, 2),
lp AS (
  SELECT prev, w, ln((c2.c2 + 1.0) / (uni.c1 + voc.v)) AS lp
  FROM c2 JOIN uni USING (prev) CROSS JOIN voc
)
SELECT db.doc_id,
       round(-(sum(db.n * lp.lp) / sum(db.n)), 4) AS ce
FROM db JOIN lp USING (prev, w)
GROUP BY 1
"""


def bool_prefix_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """match_bool_prefix oracle: BM25 over the full tokens + 1.0 for
    any doc holding a term with the last token as prefix — mirrors
    query.search_bool_prefix."""
    from mario_spark.fixtures import DOCUMENTS_SAYT_SET

    frows, prows = [], []
    for qid, qtext in DOCUMENTS_SAYT_SET:
        toks = py_tokenize(qtext)
        if not toks:
            continue
        for t in dict.fromkeys(toks[:-1]):
            frows.append(f"({qid}, '{t}')")
        prows.append(f"({qid}, '{toks[-1]}')")
    fvals = ", ".join(frows) if frows else "(NULL, NULL)"
    return f"""
WITH q(query_id, term) AS (VALUES {fvals}),
p(query_id, prefix) AS (VALUES {", ".join(prows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
pm AS (
  SELECT DISTINCT p.query_id::BIGINT AS query_id, tf.doc_id, 1.0 AS pscore
  FROM p JOIN tf ON starts_with(tf.term, p.prefix)
),
fused AS (
  SELECT coalesce(sc.query_id, pm.query_id) AS query_id,
         coalesce(sc.doc_id, pm.doc_id) AS doc_id,
         coalesce(sc.raw, 0.0) + coalesce(pm.pscore, 0.0) AS raw
  FROM sc FULL OUTER JOIN pm USING (query_id, doc_id)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


IDS_QUERY = """
SELECT doc_id, lang, 1.0::DOUBLE AS score
FROM documents WHERE doc_id IN (3, 7, 11, 400, 9999)
"""

EXISTS_QUERY = """
SELECT doc_id, nullif(lang, 'de') AS lang_opt
FROM documents WHERE nullif(lang, 'de') IS NOT NULL
"""

AGG_MOVING_PERCENTILES = """
WITH daily AS (
  SELECT ts::DATE AS d, sum(value) AS sum_value FROM events GROUP BY 1
)
SELECT d::VARCHAR AS key,
       round(quantile_cont(sum_value, 0.5) OVER (
         ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mp
FROM daily
"""


def ann_filtered_sql(k: int = 10) -> str:
    """Filtered-kNN oracle: candidates restricted to label=3 before
    ranking — mirrors ops/ann.brute_topk(candidates=...)."""
    cos = _COS64.format(A="q.qe", B="e.embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id IN (0, 1, 2, 3, 4)),
sc AS (
  SELECT q.query_id, e.vec_id, round({cos}, 4) AS cos
  FROM q, embeddings e
  WHERE e.label = 3 AND e.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= {k}
"""


AGG_FREQUENT_ITEM_SETS = f"""
WITH {_TOKS_CTE},
pres AS (SELECT DISTINCT doc_id, term AS item FROM toks),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM pres),
freq AS (
  SELECT item FROM pres CROSS JOIN nd
  GROUP BY item, nd.n HAVING count(DISTINCT doc_id) >= 0.4 * any_value(nd.n)
),
pruned AS (SELECT pres.* FROM pres SEMI JOIN freq ON pres.item = freq.item),
pairs AS (
  SELECT a.item AS a, b.item AS b, count(DISTINCT a.doc_id)::BIGINT AS doc_count
  FROM pruned a JOIN pruned b ON a.doc_id = b.doc_id AND a.item < b.item
  GROUP BY 1, 2
)
SELECT a, b, doc_count, round(doc_count / nd.n, 4) AS support
FROM pairs CROSS JOIN nd
WHERE doc_count >= 0.4 * nd.n
ORDER BY doc_count DESC, a ASC, b ASC LIMIT 10
"""


def script_score_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """script_score oracle: raw BM25 * ln(2 + n_chars/100) — mirrors
    suite.script_score_topk's Catalyst script."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
fin AS (
  SELECT sc.query_id, sc.doc_id,
         sc.raw * ln(2.0 + d.n_chars::DOUBLE / 100.0) AS raw
  FROM sc LEFT JOIN documents d USING (doc_id)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM fin
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


RUNTIME_FIELD_TERMS = """
WITH r AS (
  SELECT (floor(n_chars / 100) * 100)::BIGINT AS chars_bucket FROM documents
)
SELECT chars_bucket AS key, count(*)::BIGINT AS doc_count
FROM r GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 10
"""


def _first_t2_expr(t2: str, g: int, var: str = "p") -> str:
    """First t2 position strictly after `var` within the gap budget
    (the greedy-minimal ordered span end), NULL if none."""
    return (
        f"list_filter(generate_series({var} + 1, least({var} + {g} + 1, len(arr))), "
        f"j -> arr[j] = '{t2}')[1]"
    )


def span_containing_sql(k: int = 10) -> str:
    """SpanContainingQuery oracle: big spans [p, e] (ordered near pair,
    greedy-minimal e) holding a little occurrence; sidf = t1 + t2."""
    from mario_spark.fixtures import DOCUMENTS_SPAN_CONTAIN_SET

    q_rows, ph_selects = [], []
    for qid, t1, t2, g, lit in DOCUMENTS_SPAN_CONTAIN_SET:
        for t in dict.fromkeys((t1, t2)):
            q_rows.append(f"({qid}, '{t}')")
        e = _first_t2_expr(t2, g)
        ptf = (
            f"len(list_filter(generate_series(1, len(arr)), p -> "
            f"arr[p] = '{t1}' AND {e} IS NOT NULL AND "
            f"len(list_filter(generate_series(p, coalesce({e}, p)), "
            f"z -> arr[z] = '{lit}')) > 0))::DOUBLE"
        )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, {ptf} AS ptf FROM docs_t"
        )
    return _span_scaffold_sql(q_rows, ph_selects, k)


def span_within_sql(k: int = 10) -> str:
    """SpanWithinQuery oracle: little positions z covered by some big
    span (exists t1 at p in [z-g-1, z] whose greedy end e >= z);
    sidf = little only."""
    from mario_spark.fixtures import DOCUMENTS_SPAN_CONTAIN_SET

    q_rows, ph_selects = [], []
    for qid, t1, t2, g, lit in DOCUMENTS_SPAN_CONTAIN_SET:
        q_rows.append(f"({qid}, '{lit}')")
        e = _first_t2_expr(t2, g, var="q")
        ptf = (
            f"len(list_filter(generate_series(1, len(arr)), z -> "
            f"arr[z] = '{lit}' AND len(list_filter("
            f"generate_series(greatest(z - {g} - 1, 1), z), q -> "
            f"arr[q] = '{t1}' AND coalesce({e} >= z, false))) > 0))::DOUBLE"
        )
        ph_selects.append(
            f"SELECT {qid} AS query_id, doc_id, {ptf} AS ptf FROM docs_t"
        )
    return _span_scaffold_sql(q_rows, ph_selects, k)


CCNET_BUCKETS = f"""
WITH arrs AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks0 AS (SELECT doc_id, unnest(arr) AS term FROM arrs),
bg AS (
  SELECT doc_id, arr[p - 1] AS prev, arr[p] AS w
  FROM arrs, unnest(generate_series(2, len(arr))) AS u(p)
  WHERE len(arr) >= 2
),
uni AS (SELECT term AS prev, count(*)::DOUBLE AS c1 FROM toks0 GROUP BY 1),
voc AS (SELECT count(*)::DOUBLE AS v FROM uni),
db AS (SELECT doc_id, prev, w, count(*)::DOUBLE AS n FROM bg GROUP BY 1, 2, 3),
c2 AS (SELECT prev, w, sum(n) AS c2 FROM db GROUP BY 1, 2),
lp AS (
  SELECT prev, w, ln((c2.c2 + 1.0) / (uni.c1 + voc.v)) AS lp
  FROM c2 JOIN uni USING (prev) CROSS JOIN voc
),
ce AS (
  SELECT db.doc_id,
         round(-(sum(db.n * lp.lp) / sum(db.n)), 4) AS ce
  FROM db JOIN lp USING (prev, w)
  GROUP BY 1
),
cuts AS (
  SELECT quantile_cont(ce, 1.0/3.0) AS c1q, quantile_cont(ce, 2.0/3.0) AS c2q
  FROM ce
)
SELECT doc_id, ce,
       CASE WHEN ce <= c1q THEN 'head'
            WHEN ce <= c2q THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ce CROSS JOIN cuts
"""


def simple_qs_sql(
    queries: list[tuple[int, str]] = DOCUMENTS_SQS_SET,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """simple_query_string oracle over `documents`: one SELECT per
    disjunct computing clause chain/prefix counts inline over the token
    array; a doc's score is the sum over MATCHING disjuncts. The
    contract of qs.search_simple_query_string, which scores the same
    parse over a positional index."""
    from mario_spark.qs import parse_simple_query_string

    def idf_sub(terms: list[str]) -> str:
        # one VALUES row per occurrence: a repeated phrase term counts
        # its idf once per occurrence (Lucene's PhraseWeight)
        rows = ", ".join(f"('{t}')" for t in terms)
        return (
            "(SELECT coalesce(sum(ln(1.0 + (st2.n_docs - d2.df + 0.5)"
            " / (d2.df + 0.5))), 0.0)"
            f" FROM (VALUES {rows}) q2(term) JOIN dfr d2 USING (term)"
            " CROSS JOIN st st2)"
        )

    selects = []
    for qid, qtext in queries:
        for clauses in parse_simple_query_string(qtext):
            conds, contribs = [], []
            for typ, neg, terms in clauses:
                if typ == "prefix":
                    ctf = (
                        f"len(list_filter(arr, t -> "
                        f"starts_with(t, '{terms[0]}')))"
                    )
                    pos_contrib = f"CASE WHEN {ctf} > 0 THEN 1.0 ELSE 0.0 END"
                else:
                    ctf = _chain_count_expr(terms)
                    sat = (
                        f"({ctf} * ({k1} + 1.0)) / ({ctf} + {k1} * "
                        f"(1.0 - {b} + {b} * dl.len / st.avgdl))"
                    )
                    pos_contrib = (
                        f"CASE WHEN {ctf} > 0 THEN {idf_sub(terms)} * {sat} "
                        f"ELSE 0.0 END"
                    )
                if neg:
                    conds.append(f"({ctf} = 0)")
                else:
                    conds.append(f"({ctf} > 0)")
                    contribs.append(pos_contrib)
            match = " AND ".join(conds)
            total = " + ".join(contribs)
            selects.append(
                f"SELECT {qid} AS query_id, d.doc_id, "
                f"CASE WHEN {match} THEN ({total}) END AS c "
                f"FROM docs_t d JOIN dl USING (doc_id) CROSS JOIN st"
            )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
per AS ({" UNION ALL ".join(selects)}),
agg AS (
  SELECT query_id::BIGINT AS query_id, doc_id, sum(c) AS raw
  FROM per WHERE c IS NOT NULL GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM agg
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


AGG_NORMALIZE = """
WITH daily AS (
  SELECT ts::DATE AS d, sum(value) AS sum_value FROM events GROUP BY 1
),
tot AS (SELECT sum(sum_value) AS t FROM daily)
SELECT d::VARCHAR AS key, round(sum_value / tot.t, 6) AS norm
FROM daily CROSS JOIN tot
"""

AGG_RATE = """
WITH m AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS key,
         count(*)::BIGINT AS doc_count
  FROM events GROUP BY 1
)
SELECT key, doc_count, round(doc_count / 7.0, 4) AS rate
FROM m
"""


EQL_SEQUENCE_UNTIL = """
WITH a AS (
  SELECT user_id AS k, event_id AS first_id, ts AS a_ts
  FROM events WHERE event_type = 'view'
),
b AS (
  SELECT user_id AS k, event_id AS second_id, ts AS b_ts
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT a.k, a.first_id, a.a_ts, b.second_id, b.b_ts
  FROM a JOIN b USING (k)
  WHERE b.b_ts > a.a_ts AND epoch(b.b_ts) - epoch(a.a_ts) <= 21600
),
rk AS (
  SELECT k, first_id, a_ts, second_id, b_ts,
         row_number() OVER (PARTITION BY k, first_id
                            ORDER BY b_ts, second_id) AS rn
  FROM j
),
p AS (SELECT k, first_id, a_ts, second_id, b_ts FROM rk WHERE rn = 1)
SELECT p.k AS user_id, p.first_id, p.second_id
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM events u
  WHERE u.event_type = 'error' AND u.user_id = p.k
    AND u.ts > p.a_ts AND u.ts < p.b_ts
)
"""

EQL_SEQUENCE_VP = """
WITH a AS (
  SELECT user_id AS k, event_id AS first_id, ts AS a_ts
  FROM events WHERE event_type = 'view'
),
b AS (
  SELECT user_id AS k, event_id AS second_id, ts AS b_ts
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT a.k, a.first_id, b.second_id, b.b_ts
  FROM a JOIN b USING (k)
  WHERE b.b_ts > a.a_ts AND epoch(b.b_ts) - epoch(a.a_ts) <= 21600
),
rk AS (
  SELECT k, first_id, second_id,
         row_number() OVER (PARTITION BY k, first_id
                            ORDER BY b_ts, second_id) AS rn
  FROM j
)
SELECT k AS user_id, first_id, second_id FROM rk WHERE rn = 1
"""


def hard_negatives_sql(k: int = 10, window: int = 50) -> str:
    """Hard-negative oracle: cosine rank window of `window`, then the
    different-label re-rank — mirrors ops/ann.hard_negatives."""
    cos = _COS64.format(A="q.qe", B="e.embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
sc AS (
  SELECT q.query_id, q.qlabel, e.vec_id, e.label, round({cos}, 4) AS cos
  FROM q, embeddings e
  WHERE e.vec_id <> q.query_id
),
win AS (
  SELECT *,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS wrank
  FROM sc QUALIFY wrank <= {window}
),
negs AS (SELECT * FROM win WHERE label <> qlabel),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM negs
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= {k}
"""


def linear_hybrid_sql(
    k: int = 10,
    window: int = 20,
    w_lex: float = 0.7,
    w_dense: float = 0.3,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """linear-retriever oracle: per-query min-max normalization of both
    rank windows, weighted sum — mirrors ops/ann.linear_hybrid."""
    qrows = [
        f"({qid}, '{t}')"
        for qid, qtext in DOCUMENTS_QUERY_SET
        if qid in (0, 1, 2, 3, 4)
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    cos = _COS64.format(A="qv.qe", B="e.embedding")
    return f"""
WITH q(query_id, term) AS (VALUES {", ".join(qrows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
lexw AS (
  SELECT query_id, doc_id, round(raw, 4) AS s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS r
  FROM sc QUALIFY r <= {window}
),
lex AS (
  SELECT query_id, doc_id,
         CASE WHEN max(s) OVER (PARTITION BY query_id)
                 = min(s) OVER (PARTITION BY query_id) THEN 1.0
              ELSE (s - min(s) OVER (PARTITION BY query_id))
                 / (max(s) OVER (PARTITION BY query_id)
                  - min(s) OVER (PARTITION BY query_id)) END AS ln
  FROM lexw
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2, 3, 4)),
dcos AS (
  SELECT qv.query_id, e.vec_id AS doc_id, round({cos}, 4) AS s
  FROM qv, embeddings e WHERE e.vec_id <> qv.query_id
),
denw AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id ASC) AS r
  FROM dcos QUALIFY r <= {window}
),
den AS (
  SELECT query_id, doc_id,
         CASE WHEN max(s) OVER (PARTITION BY query_id)
                 = min(s) OVER (PARTITION BY query_id) THEN 1.0
              ELSE (s - min(s) OVER (PARTITION BY query_id))
                 / (max(s) OVER (PARTITION BY query_id)
                  - min(s) OVER (PARTITION BY query_id)) END AS dn
  FROM denw
),
fused AS (
  SELECT coalesce(lex.query_id, den.query_id) AS query_id,
         coalesce(lex.doc_id, den.doc_id) AS doc_id,
         round({w_lex} * coalesce(ln, 0.0)
             + {w_dense} * coalesce(dn, 0.0), 6) AS score
  FROM lex FULL OUTER JOIN den USING (query_id, doc_id)
),
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


TRANSFORM_PIVOT_USERS = """
SELECT user_id AS key,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 4) AS avg_value,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY 1
"""


MULTIMODAL_FRAMES = r"""
WITH b AS (
  SELECT doc_id,
         (3 + doc_id % 5)::INT AS nf,
         substr(rpad(regexp_replace(substr(text, 1, 128),
                                    '[^\x20-\x7e]', '?', 'g'),
                     (3 + doc_id % 5)::INT * 16, 'x'),
                1, (3 + doc_id % 5)::INT * 16) AS body
  FROM documents
),
f AS (
  SELECT doc_id, j AS frame_idx,
         substr(body, j * 16 + 1, 16) AS fb
  FROM b, unnest(generate_series(0, nf - 1, 2)) AS u(j)
)
SELECT doc_id, frame_idx::BIGINT AS frame_idx,
       round(list_sum(list_transform(generate_series(1, 16),
                                     i -> ascii(substr(fb, i, 1))))::DOUBLE
             / 16.0, 4) AS luma
FROM f
"""

MULTIMODAL_RESIZE = """
WITH b AS (
  SELECT doc_id,
         (64 + n_chars % 577)::INT AS width,
         (64 + doc_id % 419)::INT AS height
  FROM documents
)
SELECT doc_id, width, height,
       floor(width * least(224.0 / width, 224.0 / height))::INT AS out_w,
       floor(height * least(224.0 / width, 224.0 / height))::INT AS out_h
FROM b
"""


AGG_STRING_STATS = """
WITH lens AS (
  SELECT count(*)::BIGINT AS count,
         min(length(text))::BIGINT AS min_length,
         max(length(text))::BIGINT AS max_length,
         round(avg(length(text)), 4) AS avg_length
  FROM documents
),
chars AS (
  SELECT unnest(string_split_regex(text, '')) AS ch FROM documents
),
cc AS (
  SELECT ch, count(*)::DOUBLE AS n FROM chars WHERE ch <> '' GROUP BY 1
),
tot AS (SELECT sum(n) AS t FROM cc),
ent AS (
  SELECT round(-sum((n / tot.t) * log2(n / tot.t)), 4) AS entropy
  FROM cc CROSS JOIN tot
)
SELECT lens.*, ent.entropy FROM lens CROSS JOIN ent
"""


EQL_SEQUENCE3_VCP = """
WITH a AS (SELECT user_id AS k, event_id AS i1, ts AS t1
           FROM events WHERE event_type = 'view'),
b AS (SELECT user_id AS k, event_id AS i2, ts AS t2
      FROM events WHERE event_type = 'click'),
c AS (SELECT user_id AS k, event_id AS i3, ts AS t3
      FROM events WHERE event_type = 'purchase'),
j1 AS (
  SELECT a.k, a.i1, b.i2, b.t2,
         row_number() OVER (PARTITION BY a.k, a.i1
                            ORDER BY b.t2, b.i2) AS rn
  FROM a JOIN b USING (k)
  WHERE b.t2 > a.t1 AND epoch(b.t2) - epoch(a.t1) <= 21600
  QUALIFY rn = 1
),
j2 AS (
  SELECT b.k, b.i2, c.i3,
         row_number() OVER (PARTITION BY b.k, b.i2
                            ORDER BY c.t3, c.i3) AS rn
  FROM b JOIN c USING (k)
  WHERE c.t3 > b.t2 AND epoch(c.t3) - epoch(b.t2) <= 21600
  QUALIFY rn = 1
)
SELECT j1.k AS user_id, j1.i1 AS first_id, j1.i2 AS second_id,
       j2.i3 AS third_id
FROM j1 JOIN j2 ON j1.k = j2.k AND j1.i2 = j2.i2
"""

CATEGORIZE_TEXT_DOCS = r"""
WITH sig AS (
  SELECT array_to_string(
           regexp_extract_all(regexp_replace(lower(text), '\d+', '#', 'g'),
                              '[\p{L}\p{N}#]+')[1:3], ' ') AS category
  FROM documents
)
SELECT category, count(*)::BIGINT AS doc_count
FROM sig WHERE category <> ''
GROUP BY 1 ORDER BY doc_count DESC, category ASC LIMIT 10
"""


def pq_topk_sql(k: int = 10) -> str:
    """PQ/ADC oracle: same pinned codebook (vec_id 0..15 sub-vectors),
    same per-subspace argmin encode, same integer-scaled ADC sum —
    mirrors ops/ann.pq_topk exactly (integer accumulation makes the
    comparison order-free)."""
    d_expr = (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (e.embedding[g.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)"
        " * (e.embedding[g.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)))"
    )
    t_expr = (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (q.qe[cb.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)"
        " * (q.qe[cb.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)))"
    )
    return f"""
WITH ms AS (SELECT unnest(generate_series(0, 7)) AS m),
cb AS (
  SELECT ms.m, s.vec_id AS code,
         s.embedding[ms.m * 8 + 1 : ms.m * 8 + 8] AS cw
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) s, ms
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, g.m, cb.code,
           row_number() OVER (PARTITION BY e.vec_id, g.m
                              ORDER BY {d_expr}, cb.code) AS rn
    FROM embeddings e, ms g JOIN cb ON cb.m = g.m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id IN (20, 21, 22, 23, 24)),
tab AS (
  SELECT q.query_id, cb.m, cb.code,
         round({t_expr} * 1000000.0)::BIGINT AS td
  FROM q, cb
),
ad AS (
  SELECT tab.query_id, enc.vec_id, sum(tab.td)::BIGINT AS scaled
  FROM enc JOIN tab ON tab.m = enc.m AND tab.code = enc.code
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, vec_id, scaled,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY scaled ASC, vec_id ASC) AS rank
  FROM ad WHERE vec_id <> query_id
)
SELECT query_id, rank, vec_id, round(scaled / 1000000.0, 6) AS adist
FROM rk WHERE rank <= {k}
"""


def int8_rescore_sql(k: int = 10, window: int = 30) -> str:
    """int8-quantize + rescore oracle: identical per-dim min/max,
    half-up quantization, integer weighted-L2 candidate window, exact
    cosine re-rank — mirrors ops/ann.int8_rescore_topk."""
    cos = _COS64.format(A="qv.qe", B="e2.embedding")
    return f"""
WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
st AS (
  SELECT d.i,
         min(e.embedding[d.i]::DOUBLE) AS mn,
         max(e.embedding[d.i]::DOUBLE) AS mx
  FROM embeddings e, dims d GROUP BY 1
),
w AS (
  SELECT i, mn,
         CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END AS rng,
         round(((CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END) / 127.0)
               * ((CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END) / 127.0)
               * 100000000.0)::BIGINT AS wt
  FROM st
),
qz AS (
  SELECT e.vec_id, w.i,
         floor((e.embedding[w.i]::DOUBLE - w.mn) * 127.0 / w.rng + 0.5)::BIGINT AS q,
         w.wt
  FROM embeddings e, w
),
qv0 AS (SELECT vec_id AS query_id FROM embeddings
        WHERE vec_id IN (0, 1, 2, 3, 4)),
dist AS (
  SELECT a.query_id, b.vec_id,
         sum((b.q - a.q) * (b.q - a.q) * a.wt)::BIGINT AS iscore
  FROM (SELECT qz.* , qv0.query_id FROM qz JOIN qv0 ON qz.vec_id = qv0.query_id) a
  JOIN qz b ON b.i = a.i
  WHERE b.vec_id <> a.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY iscore ASC, vec_id ASC) AS r
    FROM dist
  ) WHERE r <= {window}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2, 3, 4)),
res AS (
  SELECT cand.query_id, cand.vec_id, round({cos}, 4) AS cos
  FROM cand
  JOIN embeddings e2 ON e2.vec_id = cand.vec_id
  JOIN qv ON qv.query_id = cand.query_id
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM res
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= {k}
"""


def ivfpq_sql(k: int = 10, n_probe: int = 2, window: int = 30) -> str:
    """IVFPQ + refine oracle: same sampled centroids (10..17), same PQ
    codebook (0..15), integer ADC sum within probed cells, exact-cosine
    re-rank — mirrors ops/ann.ivf_pq_topk."""
    from mario_spark.ops.ann import DEFAULT_CENTROID_IDS

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    d_expr = (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (e.embedding[g.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)"
        " * (e.embedding[g.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)))"
    )
    t_expr = (
        "list_sum(list_transform(generate_series(1, 8), "
        "i -> (q.qe[cb.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)"
        " * (q.qe[cb.m * 8 + i]::DOUBLE - cb.cw[i]::DOUBLE)))"
    )
    cos = _COS64.format(A="qv.qe", B="e2.embedding")
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rkd AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
assign AS (SELECT vec_id, cell FROM rkd WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS query_id, cell FROM rkd
  WHERE vec_id IN (20, 21, 22, 23, 24) AND rn <= {n_probe}
),
ms AS (SELECT unnest(generate_series(0, 7)) AS m),
cb AS (
  SELECT ms.m, s.vec_id AS code,
         s.embedding[ms.m * 8 + 1 : ms.m * 8 + 8] AS cw
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16) s, ms
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, g.m, cb.code,
           row_number() OVER (PARTITION BY e.vec_id, g.m
                              ORDER BY {d_expr}, cb.code) AS rn
    FROM embeddings e, ms g JOIN cb ON cb.m = g.m
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id IN (20, 21, 22, 23, 24)),
tab AS (
  SELECT q.query_id, cb.m, cb.code,
         round({t_expr} * 1000000.0)::BIGINT AS td
  FROM q, cb
),
adc AS (
  SELECT qp.query_id, a.vec_id, sum(tab.td)::BIGINT AS scaled
  FROM qprobe qp
  JOIN assign a USING (cell)
  JOIN enc ON enc.vec_id = a.vec_id
  JOIN tab ON tab.query_id = qp.query_id
          AND tab.m = enc.m AND tab.code = enc.code
  WHERE a.vec_id <> qp.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY scaled ASC, vec_id ASC) AS r
    FROM adc
  ) WHERE r <= {window}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (20, 21, 22, 23, 24)),
res AS (
  SELECT cand.query_id, cand.vec_id, round({cos}, 4) AS cos
  FROM cand
  JOIN embeddings e2 ON e2.vec_id = cand.vec_id
  JOIN qv USING (query_id)
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM res
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= {k}
"""


SPARSE_VECTOR_TOPK = f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.term,
         round(ln(1.0 + tf.tf)
               * ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)), 4) AS w
  FROM tf JOIN dfr USING (term) CROSS JOIN st
),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, w.doc_id, sum(w.w) AS raw
  FROM q JOIN w USING (term) GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= 10
"""


def multiphrase_sql(
    fields: list[tuple[str, str, float]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """multi_match type=phrase oracle: per-field chain counts + per-
    field PhraseWeight, dis_max across fields — mirrors
    fields.search_multi_phrase (incl. the every-term-present-in-field
    gate and the empty-field-text exclusion)."""
    from mario_spark.fixtures import DOCUMENTS_PHRASE_SET

    ctes, selects = [], []
    for name, expr, boost in fields:
        ctes.append(f"""
docs_{name} AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize({expr})), '{_TOK}') AS arr
  FROM documents
),
toks_{name} AS (
  SELECT doc_id, unnest(arr) AS term FROM docs_{name} WHERE len(arr) > 0
),
tf_{name} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks_{name} GROUP BY 1, 2),
dl_{name} AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_{name} WHERE len(arr) > 0),
st_{name} AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl_{name}),
dfr_{name} AS (SELECT term, count(*)::DOUBLE AS df FROM tf_{name} GROUP BY 1)""")
        for qid, qtext in DOCUMENTS_PHRASE_SET:
            terms = py_tokenize(qtext)
            inl = ", ".join(f"'{t}'" for t in terms)
            present = (
                f"(SELECT count(*) FROM dfr_{name} WHERE term IN ({inl}))"
                f" = {len(terms)}"
            )
            sidf = (
                f"(SELECT sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)))"
                f" FROM dfr_{name} d CROSS JOIN st_{name} s"
                f" WHERE d.term IN ({inl}))"
            )
            ctf = _chain_count_expr(terms)
            sat = (
                f"({ctf} * ({k1} + 1.0)) / ({ctf} + {k1} * "
                f"(1.0 - {b} + {b} * len(arr) / "
                f"(SELECT avgdl FROM st_{name})))"
            )
            selects.append(
                f"SELECT {qid} AS query_id, doc_id, "
                f"{boost} * {sidf} * {sat} AS c "
                f"FROM docs_{name} WHERE len(arr) > 0 AND {present} "
                f"AND {ctf} > 0"
            )
    return f"""
WITH {", ".join(ctes)},
per AS ({" UNION ALL ".join(selects)}),
best AS (
  SELECT query_id::BIGINT AS query_id, doc_id, max(c) AS raw
  FROM per GROUP BY 1, 2
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM best
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


AGG_GLOBAL_BUCKET = """
SELECT count(*)::BIGINT AS global_count,
       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS query_count,
       round(avg(n_chars), 4) AS global_avg_chars,
       round(avg(CASE WHEN lang = 'en' THEN n_chars END), 4) AS query_avg_chars
FROM documents
"""


def rank_eval_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """_rank_eval oracle: BM25 top-k (same CTEs), conjunctive-match
    judgments, identical metric arithmetic — mirrors
    suite.rank_eval_bm25 / ops/evalx.rank_eval."""
    return f"""
WITH q(query_id, term) AS (VALUES {_query_values()}),
qn AS (SELECT query_id, count(DISTINCT term) AS qn FROM q GROUP BY 1),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
res AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc QUALIFY rank <= {k}
),
jud AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id
  FROM q JOIN tf USING (term) JOIN qn ON q.query_id = qn.query_id
  GROUP BY 1, 2, qn.qn
  HAVING count(DISTINCT tf.term) = any_value(qn.qn)
),
nrel AS (
  SELECT query_id, count(DISTINCT doc_id)::BIGINT AS n_rel FROM jud GROUP BY 1
),
hits AS (
  SELECT res.query_id, count(*)::BIGINT AS hits,
         min(res.rank) AS first_rank,
         sum(1.0 / log2(res.rank + 1.0)) AS dcg
  FROM res JOIN jud USING (query_id, doc_id)
  GROUP BY 1
),
perq AS (SELECT DISTINCT query_id FROM res),
base AS (
  SELECT perq.query_id,
         coalesce(nrel.n_rel, 0)::BIGINT AS n_rel,
         coalesce(hits.hits, 0)::BIGINT AS hits,
         hits.first_rank, hits.dcg
  FROM perq LEFT JOIN nrel USING (query_id) LEFT JOIN hits USING (query_id)
),
fin AS (
  SELECT query_id, n_rel, hits,
         CASE WHEN n_rel > 0 THEN
           (SELECT sum(1.0 / log2(i + 1.0))
            FROM unnest(generate_series(1, least(n_rel, {k}))) AS u(i))
         ELSE 0.0 END AS idcg,
         first_rank, dcg
  FROM base
)
SELECT query_id, n_rel, hits,
       round(hits / {float(k)}, 4) AS precision,
       round(CASE WHEN n_rel > 0 THEN hits::DOUBLE / n_rel ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN first_rank IS NOT NULL THEN 1.0 / first_rank ELSE 0.0 END, 4) AS mrr,
       round(CASE WHEN idcg > 0 THEN coalesce(dcg, 0.0) / idcg ELSE 0.0 END, 4) AS ndcg
FROM fin
"""


def rerank_sql(k: int = 10, window: int = 20,
               k1: float = 1.2, b: float = 0.75) -> str:
    """text_similarity_reranker oracle: same BM25 window, fake
    cross-encoder = md5("<qtext> | <text>")[:13] / 16^13 rounded 6dp —
    mirrors query.search_rerank's deterministic stub."""
    qids = (0, 1, 2, 4, 5)
    qrows = [
        f"({qid}, '{t}')"
        for qid, qtext in DOCUMENTS_QUERY_SET
        if qid in qids
        for t in dict.fromkeys(py_tokenize(qtext))
    ]
    qt_rows = [
        f"({qid}, '{qtext}')"
        for qid, qtext in DOCUMENTS_QUERY_SET
        if qid in qids
    ]
    return f"""
WITH q(query_id, term) AS (VALUES {", ".join(qrows)}),
qt(query_id, qtext) AS (VALUES {", ".join(qt_rows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
),
win AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(raw, 4) DESC, doc_id ASC) AS r
    FROM sc
  ) WHERE r <= {window}
),
rr AS (
  SELECT win.query_id, win.doc_id,
         round((('0x' || substr(md5(qt.qtext || ' | ' || d.text), 1, 13))::BIGINT)::DOUBLE
               / 4503599627370496.0, 6) AS rscore
  FROM win
  JOIN documents d USING (doc_id)
  JOIN qt ON qt.query_id = win.query_id
),
rk AS (
  SELECT query_id, doc_id, rscore,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rscore DESC, doc_id ASC) AS rank
  FROM rr
)
SELECT query_id, rank, doc_id, rscore AS score FROM rk WHERE rank <= {k}
"""


AGG_REVERSE_NESTED = r"""
WITH w AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS arr
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(0, cast(ceil(len(arr) / 10.0) as int) - 1),
             i -> list_slice(arr, i * 10 + 1, i * 10 + 10))) AS chunk
  FROM w WHERE len(arr) > 0
),
t AS (
  SELECT doc_id, unnest(list_distinct(chunk)) AS key FROM s
),
g AS (
  SELECT key, count(*)::BIGINT AS nested_doc_count,
         count(DISTINCT doc_id)::BIGINT AS parent_doc_count
  FROM t GROUP BY 1
)
SELECT * FROM g ORDER BY nested_doc_count DESC, key ASC LIMIT 5
"""

NESTED_QUERY_MATCH = r"""
WITH n AS (
  SELECT doc_id,
         len(list_filter(string_split(text, '.'),
             x -> contains(x, 'join') AND length(x) > 120))::BIGINT
           AS n_matching
  FROM documents
)
SELECT doc_id, n_matching FROM n WHERE n_matching > 0
"""


def lsh_audit_sql(threshold: float = 0.5, sample_max_id: int = 200) -> str:
    """LSH audit oracle: exact-Jaccard truth vs banded candidates on
    the same sample — mirrors ops/dedup.lsh_audit."""
    return f"""
WITH dterms AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(nfc_normalize(text)), '{_TOK}')) AS term
  FROM documents WHERE doc_id < {sample_max_id}
),
share AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM dterms a JOIN dterms b USING (term)
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS sz FROM dterms GROUP BY 1),
inter AS (
  SELECT s.doc_a, s.doc_b, count(*) AS i
  FROM share s
  JOIN dterms ta ON ta.doc_id = s.doc_a
  JOIN dterms tb ON tb.doc_id = s.doc_b AND tb.term = ta.term
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE round(i / (sa.sz + sb.sz - i), 4) >= {threshold}
),
sig AS (SELECT doc_id, {_MH_COLS} FROM dterms GROUP BY doc_id),
bands AS ({_BANDS}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r USING (band_key)
  WHERE l.doc_id < r.doc_id
),
hit AS (SELECT * FROM truth SEMI JOIN cand USING (doc_a, doc_b)),
nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
nc AS (SELECT count(*)::BIGINT AS n_cand FROM cand),
nh AS (SELECT count(*)::BIGINT AS n_hit FROM hit)
SELECT n_true, n_cand, n_hit,
       round(CASE WHEN n_true > 0 THEN n_hit::DOUBLE / n_true ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN n_cand > 0 THEN n_hit::DOUBLE / n_cand ELSE 0.0 END, 4) AS precision
FROM nt CROSS JOIN nc CROSS JOIN nh
"""


AGG_CHANGE_POINT = """
WITH daily AS (
  SELECT ts::DATE AS d, sum(value) AS sum_value FROM events GROUP BY 1
),
mu AS (SELECT avg(sum_value) AS mu FROM daily)
SELECT d::VARCHAR AS key, round(sum_value, 4) AS sum_value,
       CASE WHEN sum_value >= mu THEN 'spike' ELSE 'dip' END AS type
FROM daily CROSS JOIN mu
ORDER BY abs(sum_value - mu) DESC, key ASC LIMIT 1
"""


FINGERPRINT_KEYS = r"""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             regexp_extract_all(lower(text), '[\p{L}\p{N}]+'))), ' ')) AS fp
  FROM documents
),
grp AS (SELECT fp, count(*)::BIGINT AS group_size FROM keyed GROUP BY 1)
SELECT doc_id, fp, group_size FROM keyed JOIN grp USING (fp)
"""


ESQL_STATS = """
SELECT source, count(*)::BIGINT AS c, round(avg(n_chars), 4) AS avg_chars
FROM documents WHERE lang = 'en'
GROUP BY 1 ORDER BY c DESC, source ASC LIMIT 5
"""

ESQL_EVAL = """
SELECT user_id, round(sum(value * 2), 4) AS s
FROM events WHERE event_type = 'click'
GROUP BY 1 ORDER BY s DESC, user_id ASC LIMIT 10
"""


ESQL_ENRICH = """
SELECT n.n_name, count(*)::BIGINT AS c, round(avg(c.c_acctbal), 4) AS avg_bal
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1 ORDER BY c DESC, n_name ASC LIMIT 5
"""


ESQL_DISSECT = """
WITH d AS (
  SELECT regexp_extract(props, '^\\{"k": (.*?)\\}$', 1) AS kval FROM events
)
SELECT kval, count(*)::BIGINT AS c FROM d
GROUP BY 1 ORDER BY c DESC, kval ASC LIMIT 10
"""


ESQL_MEDIAN = """
SELECT event_type AS et, round(quantile_cont(value, 0.5), 4) AS med,
       count(*)::BIGINT AS c
FROM events GROUP BY 1 ORDER BY et ASC
"""


ESQL_STATS_WHERE = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS clicks,
       count(CASE WHEN event_type = 'error' THEN 1 END)::BIGINT AS errors,
       count(*)::BIGINT AS total
FROM events GROUP BY 1 ORDER BY clicks DESC, user_id ASC LIMIT 10
"""


CLF_QUALITY_SCORE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS t
  FROM documents
),
wtok AS (
  SELECT doc_id,
         2.0 * (('0x' || substr(md5(
             ((('0x' || substr(md5(t), 1, 6))::BIGINT) % 1024)::VARCHAR
           ), 1, 13))::BIGINT)::DOUBLE / 4503599627370496.0 - 1.0 AS w
  FROM toks
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(sum(w) / count(*)))), 4) AS clf_score,
       count(*)::BIGINT AS n_tokens
FROM wtok GROUP BY 1
"""


def match_msm75_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """minimum_should_match "75%" oracle: same floored per-query
    minimum, same HAVING-gated BM25 as terms_set_sql."""
    import math

    qrows = []
    for qid, qtext in DOCUMENTS_QUERY_SET:
        terms = list(dict.fromkeys(py_tokenize(qtext)))
        m = max(1, int(math.floor(0.75 * len(terms))))
        for t in terms:
            qrows.append(f"({qid}, '{t}', {m})")
    return f"""
WITH q(query_id, term, min_match) AS (VALUES {", ".join(qrows)}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT q.query_id::BIGINT AS query_id, tf.doc_id,
         sum( ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
              * (tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)) ) AS raw
  FROM q
  JOIN tf  USING (term)
  JOIN dfr USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2
  HAVING count(DISTINCT tf.term) >= max(q.min_match)
),
rk AS (
  SELECT query_id, doc_id, round(raw, 4) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(raw, 4) DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


HAS_CHILD_TOPK = """
WITH per_parent AS (
  SELECT o_custkey AS _pk,
         count(*)::BIGINT AS n_children,
         round(sum(o_totalprice), 2) AS score
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
  GROUP BY 1
  HAVING count(*) >= 2
),
rk AS (
  SELECT c.c_custkey, p.n_children, p.score,
         row_number() OVER (ORDER BY p.score DESC, c.c_custkey ASC) AS rank
  FROM customer c JOIN per_parent p ON c.c_custkey = p._pk
)
SELECT rank::BIGINT AS rank, c_custkey, n_children, score
FROM rk WHERE rank <= 10
"""

HAS_PARENT_MATCH = """
SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderpriority = '1-URGENT' AND c.c_mktsegment = 'BUILDING'
"""

ESQL_GROK = """
WITH d AS (
  SELECT event_type,
         regexp_extract(props, '^\\{"k": ([+-]?\\d+)\\}$', 1)::BIGINT AS kval
  FROM events
)
SELECT event_type, count(*)::BIGINT AS c, max(kval)::BIGINT AS mx
FROM d GROUP BY 1 ORDER BY event_type ASC
"""

ESQL_MV_EXPAND = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
SELECT w, count(*)::BIGINT AS n FROM w
GROUP BY 1 ORDER BY n DESC, w ASC LIMIT 10
"""

ESQL_INLINESTATS = """
WITH a AS (
  SELECT lang, round(avg(n_chars), 4) AS avg_chars FROM documents GROUP BY 1
),
f AS (
  SELECT d.lang, d.n_chars
  FROM documents d JOIN a USING (lang)
  WHERE d.n_chars > a.avg_chars
)
SELECT lang, count(*)::BIGINT AS n, round(avg(n_chars), 4) AS avg_over
FROM f GROUP BY 1 ORDER BY lang ASC
"""

AGG_DATE_RANGE = """
WITH c AS (
  SELECT
    sum(CASE WHEN ts < TIMESTAMP '2024-01-10 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS b0,
    sum(CASE WHEN ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS b1,
    sum(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS b2,
    sum(CASE WHEN ts >= TIMESTAMP '2024-01-01 00:00:00'
              AND ts < TIMESTAMP '2024-02-01 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS b3
  FROM events
)
SELECT '*-2024-01-10' AS key, b0 AS doc_count FROM c
UNION ALL SELECT '2024-01-10-2024-01-20', b1 FROM c
UNION ALL SELECT '2024-01-20-*', b2 FROM c
UNION ALL SELECT 'january', b3 FROM c
"""

AGG_RANDOM_SAMPLER = """
WITH s AS (
  SELECT n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
           / 4503599627370496.0 AS u
  FROM documents
)
SELECT count(*)::BIGINT AS doc_count_sampled,
       round(count(*) / 0.25)::BIGINT AS doc_count_scaled,
       round(avg(n_chars), 4) AS avg_metric
FROM s WHERE u < 0.25
"""

ESQL_SAMPLE = """
WITH s AS (
  SELECT lang, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT)::DOUBLE
           / 4503599627370496.0 AS u
  FROM documents
)
SELECT lang, count(*)::BIGINT AS n, round(avg(n_chars), 4) AS avg_chars
FROM s WHERE u < 0.25 GROUP BY 1 ORDER BY lang ASC
"""

ESQL_EVAL_FNS = """
WITH d AS (
  SELECT upper(source) AS src,
         len(substr(text, 1, 10))::BIGINT AS hl
  FROM documents
)
SELECT src, count(*)::BIGINT AS n, round(avg(hl), 4) AS avg_hl,
       max(hl)::BIGINT AS mx
FROM d GROUP BY 1 ORDER BY src ASC
"""

ESQL_CHANGE_POINT = """
WITH s AS (
  SELECT user_id, round(sum(value), 4) AS v FROM events GROUP BY 1
),
mu AS (SELECT avg(v) AS mu FROM s)
SELECT user_id, v,
       CASE WHEN v >= mu.mu THEN 'spike' ELSE 'dip' END AS type
FROM s CROSS JOIN mu
ORDER BY abs(v - mu.mu) DESC, user_id ASC LIMIT 1
"""

ESQL_WHERE_OR = """
SELECT source, count(*)::BIGINT AS n,
       array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
FROM documents
WHERE (lang = 'en' AND regexp_matches(source, 'src[13]'))
   OR (lang = 'de' AND n_chars >= 1000)
GROUP BY 1 ORDER BY source ASC
"""

ESQL_NULL_SORT = """
SELECT doc_id,
       CASE WHEN n_chars >= 2000 THEN n_chars ELSE NULL END AS big
FROM documents
ORDER BY big DESC NULLS LAST, doc_id ASC
LIMIT 20
"""

ESQL_DATE_FNS = """
WITH d AS (
  SELECT strftime(ts, '%Y-%m') AS mon,
         EXTRACT(hour FROM ts)::BIGINT AS hh,
         floor((epoch(ts) - epoch(date_trunc('day', ts))) / 3600)::BIGINT AS hrs
  FROM events
)
SELECT mon, count(*)::BIGINT AS n, max(hh)::BIGINT AS mx_h,
       round(avg(hrs), 4) AS avg_hrs
FROM d GROUP BY 1 ORDER BY mon ASC
"""

ESQL_STRING_FNS = """
WITH d AS (
  SELECT starts_with(source, 'src1') AS sw,
         replace(source, 'src', 'S') AS s2,
         reverse(right(replace(source, 'src', 'S'), 2)) AS rev,
         strpos(text, 'the')::BIGINT AS pos
  FROM documents
)
SELECT sw, s2, rev, count(*)::BIGINT AS n, max(pos)::BIGINT AS mx_pos
FROM d GROUP BY 1, 2, 3 ORDER BY s2 ASC, sw ASC
"""

ESQL_MV_FNS = """
SELECT vec_id,
       len(embedding)::BIGINT AS n,
       round(list_sum(list_transform(embedding, x -> x::DOUBLE)), 4) AS s,
       round(list_sum(list_transform(embedding, x -> x::DOUBLE))
             / len(embedding), 4) AS a
FROM embeddings
ORDER BY vec_id ASC LIMIT 100
"""

ESQL_MV_TEXT = """
SELECT doc_id,
       len(list_distinct(string_split(text, ' ')))::BIGINT AS nu
FROM documents
ORDER BY nu DESC, doc_id ASC LIMIT 50
"""

ESQL_STATS_EXT = """
SELECT event_type,
       array_to_string(list_sort((list_sort(list(value), 'DESC'))[1:3]), ',')
         AS top_v,
       round(stddev_pop(value), 4) AS sd,
       round(sum(value * event_id) / sum(event_id), 4) AS wa
FROM events GROUP BY 1 ORDER BY event_type ASC
"""

ESQL_ROW_MATH = """
SELECT power(7, 2) AS p,
       greatest(2.5, power(7, 2))::DOUBLE AS g,
       'llo' AS r,
       round(log10(7), 4) AS lg
"""

BLOOM_DECONTAMINATE = """
WITH probes AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(i.i || '#' || text), 1, 13))::BIGINT % 65536) AS pos
  FROM documents, (VALUES ('0'), ('1'), ('2')) i(i)
),
bits AS (SELECT DISTINCT pos FROM probes WHERE source = 'src1'),
cand AS (SELECT doc_id, pos FROM probes WHERE source != 'src1')
SELECT c.doc_id,
       count(b.pos)::BIGINT AS n_hits,
       count(b.pos) = 3 AS bloom_dup
FROM cand c LEFT JOIN bits b USING (pos)
GROUP BY 1
"""

TRAINING_ORDER = """
WITH keyed AS (
  SELECT doc_id,
         md5('ep0#' || doc_id::VARCHAR) AS k,
         (('0x' || substr(md5('ep0#' || doc_id::VARCHAR), 1, 13))::BIGINT % 8)
           AS shard
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)::BIGINT AS pos
FROM keyed
"""

AGG_IP_RANGE = """
WITH ips AS (
  SELECT 10 * 16777216
         + (user_id % 64) * 65536
         + (floor(event_id / 256)::BIGINT % 256) * 256
         + (event_id % 256) AS ipl
  FROM events
)
SELECT 'low' AS key, count(*) FILTER (ipl < 168820736)::BIGINT AS doc_count FROM ips
UNION ALL
SELECT 'mid', count(*) FILTER (ipl >= 168820736 AND ipl < 170917888) FROM ips
UNION ALL
SELECT 'high', count(*) FILTER (ipl >= 170917888) FROM ips
UNION ALL
SELECT '10.32.0.0/11', count(*) FILTER (ipl >= 169869312 AND ipl < 171966464)
FROM ips
"""

AGG_IP_PREFIX = """
WITH ips AS (
  SELECT 10 * 16777216
         + (user_id % 64) * 65536
         + (floor(event_id / 256)::BIGINT % 256) * 256
         + (event_id % 256) AS ipl
  FROM events
),
b AS (
  SELECT (floor(ipl / 4096)::BIGINT * 4096) AS pfx,
         count(*)::BIGINT AS doc_count
  FROM ips GROUP BY 1
)
SELECT printf('%d.%d.%d.%d',
              (floor(pfx / 16777216)::BIGINT % 256),
              (floor(pfx / 65536)::BIGINT % 256),
              (floor(pfx / 256)::BIGINT % 256),
              (pfx % 256)) AS key,
       20::INT AS prefix_length, doc_count
FROM b ORDER BY pfx
"""

HOST_CAP_KEEP = """
WITH d AS (
  SELECT doc_id, n_chars,
         printf('host%d.example.com', doc_id % 37) AS host
  FROM documents
),
r AS (
  SELECT doc_id, host,
         row_number() OVER (
           PARTITION BY host ORDER BY n_chars DESC, doc_id ASC
         )::BIGINT AS host_rank
  FROM d
)
SELECT doc_id, host, host_rank FROM r WHERE host_rank <= 5
"""

def _cluster_mixture_oracle() -> str:
    from mario_spark.ops.ann import DEFAULT_CENTROID_IDS

    cids = ", ".join(str(c) for c in DEFAULT_CENTROID_IDS)
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)"
        " * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  WHERE vec_id IN ({cids})
),
dist AS (
  SELECT e.vec_id, c.cell, {sq} AS d
  FROM embeddings e CROSS JOIN cents c
),
rk AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dist
),
cnt AS (
  SELECT cell, count(*)::BIGINT AS n FROM rk WHERE rn = 1 GROUP BY 1
),
tot AS (SELECT sum(pow(n, 0.7)) AS t FROM cnt)
SELECT cell, n, round(pow(n, 0.7) / tot.t, 6) AS weight
FROM cnt CROSS JOIN tot ORDER BY cell
"""


EXACT_SUBSTRING_DEDUP = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\p{L}\p{N}]+') AS arr
  FROM documents
),
occ AS (
  SELECT doc_id, i AS p,
         md5(array_to_string(arr[i:i+7], ' ')) AS digest,
         (doc_id * 1048576 + i)::BIGINT AS okey
  FROM base, unnest(generate_series(1, len(arr) - 7)) AS t(i)
  WHERE len(arr) >= 8
),
first AS (
  SELECT digest, min(okey) AS first_okey, count(*) AS occ_cnt
  FROM occ GROUP BY 1
),
cuts AS (
  SELECT o.doc_id, o.p
  FROM occ o JOIN first f USING (digest)
  WHERE f.occ_cnt > 1 AND o.okey > f.first_okey
),
cov AS (
  SELECT DISTINCT doc_id, j AS pos
  FROM cuts, unnest(generate_series(p, p + 7)) AS t(j)
),
covw AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM cov
),
covstats AS (
  SELECT doc_id, count(*)::BIGINT AS n_removed,
         sum(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END)
           ::BIGINT AS n_spans
  FROM covw GROUP BY 1
),
toks AS (
  SELECT b.doc_id, i, arr[i] AS tok
  FROM base b, unnest(generate_series(1, len(arr))) AS t(i)
),
kept AS (
  SELECT t.doc_id, t.i, t.tok
  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.i
  WHERE c.pos IS NULL
),
clean AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS clean_hash
  FROM kept GROUP BY 1
)
SELECT b.doc_id,
       len(b.arr)::BIGINT AS n_tokens,
       coalesce(s.n_removed, 0)::BIGINT AS n_removed,
       coalesce(s.n_spans, 0)::BIGINT AS n_spans,
       coalesce(c.clean_hash, md5('')) AS clean_hash
FROM base b
LEFT JOIN covstats s USING (doc_id)
LEFT JOIN clean c USING (doc_id)
"""

HOST_REPUTATION_FILTER = """
WITH d AS (
  SELECT n_chars::DOUBLE AS quality,
         printf('host%d.example.com', doc_id % 37) AS host
  FROM documents
),
hosts AS (
  SELECT host, count(*)::BIGINT AS n_docs,
         round(avg(quality), 4) AS mean_q
  FROM d GROUP BY 1
),
cut AS (SELECT quantile_cont(mean_q, 0.25) AS cut FROM hosts)
SELECT host, n_docs, mean_q, (mean_q >= cut.cut) AS keep
FROM hosts CROSS JOIN cut
"""

AGG_CHILDREN = """
SELECT c.c_mktsegment AS bucket, count(*)::BIGINT AS doc_count,
       round(sum(o.o_totalprice), 4) AS sum_metric
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1
"""

ESQL_WHERE_IN_LIKE = """
SELECT lang, source, count(*)::BIGINT AS n, round(avg(n_chars), 4) AS avg_chars
FROM documents
WHERE lang IN ('en', 'de') AND source LIKE 'src1%' AND NOT n_chars < 100
GROUP BY 1, 2 ORDER BY lang ASC, source ASC
"""

ESQL_BUCKET_STATS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS d,
       count(*)::BIGINT AS n, round(avg(value), 4) AS avg_v
FROM events GROUP BY 1 ORDER BY d ASC
"""

ESQL_CASE = """
WITH b AS (
  SELECT event_type,
         CASE WHEN value >= 75.0 THEN 'high'
              WHEN value >= 25.0 THEN 'mid'
              ELSE 'low' END AS band
  FROM events
)
SELECT event_type, band, count(*)::BIGINT AS n
FROM b GROUP BY 1, 2 ORDER BY event_type ASC, band ASC
"""

ESQL_COUNT_DISTINCT = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS users,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events GROUP BY 1 ORDER BY event_type ASC
"""

ESQL_WHERE_DATES = """
SELECT event_type, count(*)::BIGINT AS n, round(avg(value), 4) AS avg_v
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1 ORDER BY event_type ASC
"""

ESQL_LOOKUP_JOIN = """
SELECT c.c_nationkey, count(*)::BIGINT AS n,
       round(sum(o.o_totalprice), 4) AS sum_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1 ORDER BY 1 ASC
"""

ESQL_FUSE = """
WITH b1 AS (
  SELECT doc_id AS _id,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS r
  FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20
),
b2 AS (
  SELECT doc_id AS _id,
         row_number() OVER (ORDER BY doc_id ASC) AS r
  FROM documents ORDER BY doc_id ASC LIMIT 20
),
u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
f AS (SELECT _id, round(sum(1.0 / (60.0 + r)), 6) AS _score
      FROM u GROUP BY 1)
SELECT _id, _score FROM f ORDER BY _score DESC, _id ASC LIMIT 10
"""

ESQL_FORK = """
WITH b1 AS (
  SELECT event_type, count(*)::BIGINT AS n, NULL::DOUBLE AS avg_v,
         'fork1' AS _fork
  FROM events WHERE event_type = 'error' GROUP BY 1
),
b2 AS (
  SELECT event_type, count(*)::BIGINT AS n, round(avg(value), 4) AS avg_v,
         'fork2' AS _fork
  FROM events GROUP BY 1
)
SELECT * FROM b1 UNION ALL SELECT * FROM b2
ORDER BY _fork ASC, event_type ASC
"""

AGG_GEO_LINE = """
WITH p AS (
  SELECT user_id, ts, event_id,
         ((event_id % 360 - 180 + 0.5)::DOUBLE)::VARCHAR || ' ' ||
         (((event_id * 7) % 170 - 85 + 0.5)::DOUBLE)::VARCHAR AS pt,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id AS key, count(*)::BIGINT AS n_points,
       string_agg(CASE WHEN rn <= 20 THEN pt END, ',' ORDER BY ts, event_id) AS line
FROM p GROUP BY 1
"""

AGG_BUCKET_SCRIPT = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS doc_count,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_match,
       round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 4) AS rate
FROM events GROUP BY 1
"""

# Shared synthesized per-doc geopoint (matches suite._doc_geopoints).
_GEOPOINTS_CTE = """g AS (
  SELECT doc_id,
         (doc_id % 360 - 180 + 0.5)::FLOAT::DOUBLE AS lon,
         ((doc_id * 7) % 170 - 85 + 0.5)::FLOAT::DOUBLE AS lat
  FROM documents
)"""

GEO_SORT_TOPK = f"""
WITH {_GEOPOINTS_CTE},
d AS (
  SELECT doc_id,
         round(2.0 * 6371.0088 * asin(sqrt(
           pow(sin((radians(20.0) - radians(lat)) / 2), 2)
           + cos(radians(lat)) * cos(radians(20.0))
             * pow(sin((radians(10.0) - radians(lon)) / 2), 2)
         )), 3) AS distance_km
  FROM g
)
SELECT row_number() OVER (ORDER BY distance_km ASC, doc_id ASC)::BIGINT AS rank,
       doc_id, distance_km
FROM d ORDER BY 1 LIMIT 10
"""


def geo_polygon_sql() -> str:
    """geo_polygon oracle: the SAME generated ray-cast predicate string
    the Spark side evaluates (shared via ops.geo.point_in_polygon_sql),
    so float behavior is pinned by construction."""
    from mario_spark.ops.geo import POLYGON_PENTAGON, point_in_polygon_sql

    pred = point_in_polygon_sql("lon", "lat", POLYGON_PENTAGON)
    return f"""
WITH {_GEOPOINTS_CTE}
SELECT doc_id, round(lon, 4) AS lon, round(lat, 4) AS lat
FROM g WHERE {pred}
"""


def span_multi_sql(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """span_multi(prefix) oracle: the prefix expands to every corpus
    term LIKE p%, scored as a SpanOr of 1-term chains — freq = summed
    tf over the expansion, idf = summed idf over the expansion."""
    from mario_spark.suite import SPAN_MULTI_PREFIXES

    qrows = ", ".join(f"({qid}, '{p}')" for qid, p in SPAN_MULTI_PREFIXES)
    return f"""
WITH q(query_id, prefix) AS (VALUES {qrows}),
{_TOKS_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS len FROM toks GROUP BY 1),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
m AS (
  SELECT q.query_id::BIGINT AS query_id, dfr.term, dfr.df
  FROM q JOIN dfr ON dfr.term LIKE q.prefix || '%'
),
sidf AS (
  SELECT m.query_id,
         sum(ln(1.0 + (st.n_docs - m.df + 0.5) / (m.df + 0.5))) AS sidf
  FROM m CROSS JOIN st GROUP BY 1
),
fr AS (
  SELECT m.query_id, tf.doc_id, sum(tf.tf) AS freq
  FROM m JOIN tf USING (term) GROUP BY 1, 2
),
sc AS (
  SELECT fr.query_id, fr.doc_id,
         round(sidf.sidf * fr.freq * ({k1} + 1.0)
               / (fr.freq + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl)),
               4) AS score
  FROM fr
  JOIN sidf USING (query_id)
  JOIN dl ON fr.doc_id = dl.doc_id
  CROSS JOIN st
),
rk AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


def _bit_hamming_oracle(k: int = 10) -> str:
    from mario_spark.ops.ann import bitsig_sql
    from mario_spark.ops.dedup import hamming_sql

    sig = bitsig_sql("embedding", dialect="duckdb")
    ham = hamming_sql("q.qsig", "s.sig", dialect="duckdb")
    return f"""
WITH s AS (SELECT vec_id, {sig} AS sig FROM embeddings),
q AS (SELECT vec_id AS query_id, sig AS qsig FROM s WHERE vec_id IN (0,1,2,3,4)),
h AS (
  SELECT q.query_id, s.vec_id, ({ham})::BIGINT AS hamming
  FROM q, s WHERE s.vec_id <> q.query_id
),
rk AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM h
)
SELECT query_id, rank, vec_id, hamming FROM rk WHERE rank <= {k}
"""


def _bit_rescore_oracle(k: int = 10, window: int = 30) -> str:
    from mario_spark.ops.ann import bitsig_sql
    from mario_spark.ops.dedup import hamming_sql

    sig = bitsig_sql("embedding", dialect="duckdb")
    ham = hamming_sql("q.qsig", "s.sig", dialect="duckdb")
    cos = _COS64.format(A="qv.qe", B="e2.embedding")
    return f"""
WITH s AS (SELECT vec_id, {sig} AS sig FROM embeddings),
q AS (SELECT vec_id AS query_id, sig AS qsig FROM s WHERE vec_id IN (0,1,2,3,4)),
h AS (
  SELECT q.query_id, s.vec_id, ({ham})::BIGINT AS hamming
  FROM q, s WHERE s.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, vec_id ASC) AS rn
    FROM h
  ) WHERE rn <= {window}
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0,1,2,3,4)),
sc AS (
  SELECT c.query_id, c.vec_id, round({cos}, 4) AS cos
  FROM cand c
  JOIN embeddings e2 ON e2.vec_id = c.vec_id
  JOIN qv ON qv.query_id = c.query_id
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sc
)
SELECT query_id, rank, vec_id, cos FROM rk WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Pinned-fixture oracles for the two queries whose feedback loops SQL
# cannot express (iterative BPE training; FFD bin packing).  The
# expected outputs are generated ONCE per scale factor by pure-Python
# reference implementations sharing no code with the Spark kernels
# (scripts/gen_rows_only_fixtures.py — the same references the pytest
# twins encode), pinned as parquet under tests/fixtures/, and selected
# by corpus mass: sf0.001 and sf0.01 both hold 500 docs, but their
# SUM(n_chars) differs (153156 / 149174 / 1485576), so the sf-agnostic
# SQL below resolves the right pinned rows for whichever corpus the
# driver registered as the `documents` view.  An unknown corpus matches
# zero fixture rows, failing the row-count gate loudly rather than
# silently passing.
from pathlib import Path as _Path

_FIXDIR = _Path(__file__).resolve().parent.parent / "tests" / "fixtures"

BPE_TRAIN_MERGES = f"""
SELECT rank, "left", "right"
FROM read_parquet('{_FIXDIR}/bpe_train_merges.parquet')
WHERE corpus_chars = (SELECT SUM(n_chars) FROM documents)
"""

PACK_BEST_FIT_PIECES = f"""
SELECT doc_id, shard, piece_idx, n_tokens, bin_id, bin_fill
FROM read_parquet('{_FIXDIR}/pack_best_fit_pieces.parquet')
WHERE corpus_chars = (SELECT SUM(n_chars) FROM documents)
"""


ORACLES: dict[str, str] = {
    "bpe_train_merges": BPE_TRAIN_MERGES,
    "pack_best_fit_pieces": PACK_BEST_FIT_PIECES,
    "doc_lengths": DOC_LENGTHS,
    "term_df": TERM_DF,
    "corpus_stats": CORPUS_STATS,
    "bm25_topk": bm25_topk_sql(),
    "keyword_normalize": KEYWORD_NORMALIZE,
    "filter_lang_en": FILTER_LANG_EN,
    "token_count_bpe": TOKEN_COUNT_BPE,
    "multimodal_bytes": MULTIMODAL_BYTES,
    "exact_dedup_stats": EXACT_DEDUP_STATS,
    "exact_dedup_groups": EXACT_DEDUP_GROUPS,
    "q1_pricing_summary": Q1_PRICING_SUMMARY,
    "q3_top_orders": Q3_TOP_ORDERS,
    "date_parse_cascade": DATE_PARSE_CASCADE,
    "date_range_query": DATE_RANGE_QUERY,
    "events_windowed": EVENTS_WINDOWED,
    "events_sessionized": EVENTS_SESSIONIZED,
    "events_props_json": EVENTS_PROPS_JSON,
    "bm25_topk_wand": bm25_topk_sql(),
    "bm25_topk_and": bm25_topk_sql(conjunctive=True),
    "bm25_topk_not": bm25_topk_sql(must_not=_mustnot_set()),
    "bm25_topk_msm": bm25_topk_sql(msm=2),
    "fuzzy_topk": fuzzy_topk_sql(),
    "fuzzy_damerau_topk": fuzzy_damerau_topk_sql(),
    "prefix_topk": prefix_topk_sql(),
    "wildcard_topk": wildcard_topk_sql(),
    "regexp_topk": regexp_topk_sql(),
    "fuzzy_blended_topk": fuzzy_blended_topk_sql(),
    "synonym_topk": synonym_topk_sql(),
    "collapse_topk": collapse_topk_sql(),
    "collapse_inner_hits": collapse_inner_hits_sql(),
    "bm25_topk_filtered": bm25_topk_sql(
        filter_sql="SELECT doc_id FROM documents WHERE lower(lang) = 'en'"
    ),
    "bm25_topk_decay": function_score_sql(
        "SELECT doc_id, exp(-0.6931471805599453 / 365.0 * "
        "(DATE '2022-12-31' - (DATE '2020-01-01' + (doc_id % 1000)::INT))) "
        "AS boost FROM documents"
    ),
    # gauss variance denominator 365^2/ln2 == Python's 2*GAUSS_SIGMA2
    # bit-exactly (the *2 / /2 is a pure exponent shift in binary FP)
    "bm25_topk_gauss": function_score_sql(
        "SELECT doc_id, exp(-(age * age) / "
        "(365.0 * 365.0 / 0.6931471805599453)) AS boost FROM ("
        "SELECT doc_id, abs(DATE '2022-12-31' - "
        "(DATE '2020-01-01' + (doc_id % 1000)::INT))::DOUBLE AS age "
        "FROM documents)"
    ),
    "bm25_topk_linear_decay": function_score_sql(
        "SELECT doc_id, greatest(0.0, (730.0 - age) / 730.0) AS boost FROM ("
        "SELECT doc_id, abs(DATE '2022-12-31' - "
        "(DATE '2020-01-01' + (doc_id % 1000)::INT))::DOUBLE AS age "
        "FROM documents)"
    ),
    "bm25_topk_boosted": boosted_terms_sql(),
    "bm25_topk_min_score": (
        f"SELECT * FROM ({bm25_topk_sql()}) WHERE score >= 0.5"
    ),
    "bm25_topk_nonorms": bm25_topk_sql(b=0.0),
    "bm25_topk_fvf": function_score_sql(
        "SELECT doc_id, ln(1.0 + 0.1::DOUBLE * "
        "coalesce(n_chars::DOUBLE, 10.0)) AS boost FROM documents"
    ),
    "more_like_this_topk": more_like_this_sql([0, 1, 2]),
    "search_sorted_by_field": SEARCH_SORTED_BY_FIELD,
    "bool_composed_topk": bm25_topk_sql(
        filter_sql="SELECT doc_id FROM documents "
        "WHERE n_chars >= 200 AND n_chars < 2000 AND lower(lang) != 'de'"
    ),
    "bm25_topk_title": bm25_field_sql("substr(text, 1, 64)"),
    "multifield_most_topk": multifield_topk_sql(_MF_FIELDS, "sum"),
    "multifield_best_topk": multifield_topk_sql(_MF_FIELDS, "max"),
    "multifield_cross_topk": cross_fields_sql(_MF_FIELDS),
    "phrase_suggest": _phrase_suggest_oracle(),
    "dismax_topk": multifield_topk_sql(_MF_FIELDS, "dismax", tie_breaker=0.3),
    "boosting_topk": _boosting_oracle(),
    "explain_scores": _explain_oracle(),
    "phrase_topk": phrase_topk_sql(),
    "phrase_near_topk": phrase_topk_sql(slop=2, query_set=_near_set()),
    "span_near_unordered_topk": phrase_topk_sql(
        slop=2, query_set=_near_set(), in_order=False
    ),
    "phrase_prefix_topk": phrase_prefix_topk_sql(),
    "phrase_shingle_topk": phrase_shingle_sql(),
    "synonym_graph_topk": synonym_graph_sql(),
    "minhash_signatures": MINHASH_SIGNATURES,
    "minhash_lsh_pairs": MINHASH_LSH_PAIRS,
    "incremental_minhash_dedup": INCREMENTAL_MINHASH_DEDUP,
    "dedup_components": DEDUP_COMPONENTS,
    "dedup_keep_best": _dedup_keep_best_oracle(),
    "simhash64": _simhash_oracle(),
    "simhash_pairs": _simhash_pairs_oracle(),
    "ngram_jaccard_pairs": NGRAM_JACCARD_PAIRS,
    "ngram_decontaminate": NGRAM_DECONTAMINATE,
    "clean_corpus": _clean_corpus_oracle(),
    "ann_brute_topk": ANN_BRUTE_TOPK,
    "ann_maxsim_topk": f"""
WITH m AS (
  SELECT vec_id // 4 AS mdoc, vec_id AS tok, embedding FROM embeddings
),
q AS (SELECT mdoc AS qdoc, tok AS qtok, embedding AS qe FROM m
      WHERE mdoc IN (0, 7, 21)),
pc AS (
  SELECT q.qdoc, m.mdoc, q.qtok,
         round({_COS64.format(A="q.qe", B="m.embedding")}, 6) AS cos
  FROM q, m WHERE m.mdoc <> q.qdoc
),
mx AS (SELECT qdoc, mdoc, qtok, max(cos) AS mx FROM pc GROUP BY 1, 2, 3),
sc AS (SELECT qdoc, mdoc, round(sum(mx), 4) AS score FROM mx GROUP BY 1, 2),
rk AS (
  SELECT qdoc, mdoc, score,
         row_number() OVER (PARTITION BY qdoc
                            ORDER BY score DESC, mdoc ASC) AS rank
  FROM sc
)
SELECT qdoc AS query_id, rank, mdoc AS doc_id, score FROM rk WHERE rank <= 5
""",
    "ann_lsh_pairs": _ann_lsh_oracle(),
    "ann_ivf_topk": _ann_ivf_oracle(),
    "knn_graph_exact": KNN_GRAPH_EXACT,
    "knn_graph_ivf": _knn_graph_ivf_oracle(),
    "ivf_recall_audit": _ivf_recall_audit_oracle(),
    "lang_id": _lang_id_oracle(),
    "quality_score": _quality_oracle(),
    "gopher_quality": GOPHER_QUALITY,
    "winnow_fingerprints": WINNOW_FINGERPRINTS,
    "multimodal_decode": MULTIMODAL_DECODE,
    "highlight_fragments": HIGHLIGHT_FRAGMENTS,
    "highlight_best_passage": HIGHLIGHT_BEST_PASSAGE,
    "facet_terms_lang": FACET_TERMS_LANG,
    "agg_terms_sharded": """
WITH per AS (
  SELECT doc_id % 4 AS shard, source AS key, count(*)::BIGINT AS cnt
  FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT shard, key, cnt,
         row_number() OVER (PARTITION BY shard
                            ORDER BY cnt DESC, key ASC) AS r
  FROM per
),
reported AS (SELECT * FROM ranked WHERE r <= 3),
ss AS (
  SELECT shard,
         CASE WHEN count(*) >= 3 THEN min(cnt) ELSE 0 END AS cutoff
  FROM reported GROUP BY 1
),
summed AS (SELECT key, sum(cnt)::BIGINT AS doc_count FROM reported GROUP BY 1),
top AS (SELECT key, doc_count FROM summed
        ORDER BY doc_count DESC, key ASC LIMIT 5)
SELECT t.key, t.doc_count,
       sum(CASE WHEN rep.key IS NULL THEN ss.cutoff ELSE 0 END)::BIGINT
         AS doc_count_error_upper_bound
FROM top t CROSS JOIN ss
LEFT JOIN reported rep ON rep.shard = ss.shard AND rep.key = t.key
GROUP BY 1, 2
ORDER BY t.doc_count DESC, t.key ASC
""",
    "facet_terms_filtered": """
SELECT source AS key, count(*)::BIGINT AS doc_count
FROM documents
WHERE source IS NOT NULL
  AND regexp_full_match(source, '(?:src1[0-9])')
  AND NOT regexp_full_match(source, '(?:src13)')
GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 5
""",
    "agg_stats_lang": AGG_STATS_LANG,
    "agg_date_histogram": AGG_DATE_HISTOGRAM,
    "query_string_topk": _qs_oracle(),
    "query_string_fields_topk": _qsf_oracle(),
    "term_suggest": _term_suggest_oracle(),
    "term_suggest_popular": _term_suggest_popular_oracle(),
    "term_suggest_missing": _term_suggest_missing_oracle(),
    "terms_enum": TERMS_ENUM,
    "repetition_stats": REPETITION_STATS,
    "url_dedup": URL_DEDUP,
    "stratified_sample": STRATIFIED_SAMPLE,
    "pack_sequences": PACK_SEQUENCES,
    "agg_histogram_nchars": AGG_HISTOGRAM_NCHARS,
    "agg_extended_stats": AGG_EXTENDED_STATS,
    "agg_filters": AGG_FILTERS,
    "agg_pipeline_monthly": AGG_PIPELINE_MONTHLY,
    "agg_geotile_grid": AGG_GEOTILE_GRID,
    "agg_bucket_ks_test": AGG_BUCKET_KS,
    "agg_bucket_correlation": AGG_BUCKET_CORRELATION,
    "agg_nested_terms": AGG_NESTED_TERMS,
    "agg_range_nchars": AGG_RANGE_NCHARS,
    "agg_percentiles": AGG_PERCENTILES,
    "agg_cardinality_users": AGG_CARDINALITY_USERS,
    "agg_top_hits": AGG_TOP_HITS,
    "agg_significant_terms": AGG_SIGNIFICANT_TERMS,
    "agg_significant_text": AGG_SIGNIFICANT_TEXT,
    "agg_variable_width": AGG_VARIABLE_WIDTH,
    "agg_composite_page": AGG_COMPOSITE_PAGE,
    "rescore_topk": rescore_topk_sql(),
    "search_after_page": SEARCH_AFTER_PAGE,
    "geo_distance": GEO_DISTANCE,
    "geo_bbox": GEO_BBOX,
    "completion_suggest": COMPLETION_SUGGEST,
    "completion_suggest_context": COMPLETION_SUGGEST_CONTEXT,
    "completion_suggest_fuzzy": """
WITH v AS (
  SELECT doc_id AS key, split_part(text, ' ', 1) AS value,
         lower(regexp_replace(split_part(text, ' ', 1), '[ ./;=,-]', '', 'g')) AS norm
  FROM documents
),
p AS (
  SELECT DISTINCT substr(norm, 1, plen) AS prefix, value, key
  FROM (SELECT key, value, norm,
               unnest(generate_series(1, least(len(norm), 12))) AS plen
        FROM v WHERE len(norm) > 0)
),
hits AS (
  SELECT value, key, min(levenshtein(prefix, 'hsh'))::BIGINT AS dist
  FROM p
  WHERE len(prefix) BETWEEN 2 AND 4 AND levenshtein(prefix, 'hsh') <= 1
  GROUP BY 1, 2
)
SELECT dist, value, key FROM hits ORDER BY dist, value, key LIMIT 5
""",
    "agg_rare_terms": AGG_RARE_TERMS,
    "agg_multi_terms": AGG_MULTI_TERMS,
    "agg_terms_order_metric": AGG_TERMS_ORDER_METRIC,
    "agg_adjacency_matrix": AGG_ADJACENCY_MATRIX,
    "agg_auto_date_histogram": AGG_AUTO_DATE_HISTOGRAM,
    "agg_geo_distance_rings": AGG_GEO_DISTANCE_RINGS,
    "agg_bucket_selector": AGG_BUCKET_SELECTOR,
    "agg_max_bucket": AGG_MAX_BUCKET,
    "match_count": match_count_sql(),
    "constant_score_topk": constant_score_sql(),
    "near_dedup_survivors": NEAR_DEDUP_SURVIVORS,
    "span_or_topk": span_or_sql(),
    "span_first_topk": span_first_sql(),
    "pii_redact": PII_REDACT,
    "semdedup_keep": _semdedup_oracle(),
    "chunk_dedup": CHUNK_DEDUP,
    "termvectors": TERMVECTORS,
    "bpe_pair_counts": BPE_PAIR_COUNTS,
    "bpe_encode_tokens": _bpe_encode_oracle(),
    "c4_line_filter": """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
),
ch AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, cast(ceil(len(arr) / 8.0) AS INT) - 1),
           i -> list_slice(arr, i * 8 + 1, i * 8 + 8)
         ) AS chunks
  FROM base
),
k AS (
  SELECT doc_id, chunks,
         list_filter(chunks, c -> c[1] < 'm' AND len(c) >= 5) AS kept
  FROM ch
)
SELECT doc_id,
       len(chunks)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept,
       (len(kept) >= 3)::BIGINT AS kept_doc,
       md5(coalesce(list_aggregate(
             list_transform(kept, c -> list_aggregate(c, 'string_agg', ' ') || '.'),
             'string_agg', ' '), '')) AS clean_hash
FROM k
""",
    "agg_geo_centroid": AGG_GEO_CENTROID,
    "agg_geo_bounds": AGG_GEO_BOUNDS,
    "agg_matrix_stats": AGG_MATRIX_STATS,
    "agg_t_test": AGG_T_TEST,
    "agg_boxplot": AGG_BOXPLOT,
    "agg_top_metrics": AGG_TOP_METRICS,
    "sliced_scan": SLICED_SCAN,
    "scripted_metric_mad": SCRIPTED_METRIC_MAD,
    "agg_stats_bucket": AGG_STATS_BUCKET,
    "agg_bucket_sort": AGG_BUCKET_SORT,
    "agg_serial_diff": AGG_SERIAL_DIFF,
    "agg_cumulative_cardinality": AGG_CUMULATIVE_CARDINALITY,
    "pinned_topk": pinned_topk_sql(),
    "rank_feature_topk": rank_feature_sql(),
    "rank_feature_log_topk": rank_feature_sql(function="log"),
    "rank_feature_sigmoid_topk": rank_feature_sql(function="sigmoid"),
    "terms_set_topk": terms_set_sql(),
    "distance_feature_topk": distance_feature_sql(),
    "percolate_match": percolate_sql(),
    "combined_fields_topk": combined_fields_sql(_MF_FIELDS),
    "intervals_topk": intervals_sql(),
    "rrf_hybrid_topk": rrf_hybrid_sql(),
    "lm_cross_entropy": LM_CROSS_ENTROPY,
    "bool_prefix_topk": bool_prefix_sql(),
    "ids_query": IDS_QUERY,
    "exists_query": EXISTS_QUERY,
    "agg_moving_percentiles": AGG_MOVING_PERCENTILES,
    "ann_filtered_topk": ann_filtered_sql(),
    "agg_frequent_item_sets": AGG_FREQUENT_ITEM_SETS,
    "script_score_topk": script_score_sql(),
    "runtime_field_terms": RUNTIME_FIELD_TERMS,
    "span_containing_topk": span_containing_sql(),
    "span_within_topk": span_within_sql(),
    "ccnet_buckets": CCNET_BUCKETS,
    "simple_qs_topk": simple_qs_sql(),
    "agg_normalize": AGG_NORMALIZE,
    "agg_rate": AGG_RATE,
    "eql_sequence_vp": EQL_SEQUENCE_VP,
    "eql_sequence_until": EQL_SEQUENCE_UNTIL,
    "ann_hard_negatives": hard_negatives_sql(),
    "linear_hybrid_topk": linear_hybrid_sql(),
    "transform_pivot_users": TRANSFORM_PIVOT_USERS,
    "multimodal_frames": MULTIMODAL_FRAMES,
    "multimodal_resize": MULTIMODAL_RESIZE,
    "agg_string_stats": AGG_STRING_STATS,
    "eql_sequence3_vcp": EQL_SEQUENCE3_VCP,
    "categorize_text_docs": CATEGORIZE_TEXT_DOCS,
    "ann_pq_topk": pq_topk_sql(),
    "ann_int8_rescore": int8_rescore_sql(),
    "ann_ivfpq_topk": ivfpq_sql(),
    "sparse_vector_topk": SPARSE_VECTOR_TOPK,
    "multiphrase_topk": multiphrase_sql(_MF_FIELDS),
    "agg_global_bucket": AGG_GLOBAL_BUCKET,
    "rank_eval_bm25": rank_eval_sql(),
    "rerank_topk": rerank_sql(),
    "nested_query_match": NESTED_QUERY_MATCH,
    "agg_reverse_nested": AGG_REVERSE_NESTED,
    "lsh_recall_audit": lsh_audit_sql(),
    "agg_change_point": AGG_CHANGE_POINT,
    "fingerprint_keys": FINGERPRINT_KEYS,
    "esql_stats": ESQL_STATS,
    "esql_eval": ESQL_EVAL,
    "esql_enrich": ESQL_ENRICH,
    "esql_dissect": ESQL_DISSECT,
    "esql_median": ESQL_MEDIAN,
    "esql_stats_where": ESQL_STATS_WHERE,
    "clf_quality_score": CLF_QUALITY_SCORE,
    "match_msm75_topk": match_msm75_sql(),
    "has_child_topk": HAS_CHILD_TOPK,
    "has_parent_match": HAS_PARENT_MATCH,
    "esql_grok": ESQL_GROK,
    "esql_mv_expand": ESQL_MV_EXPAND,
    "esql_inlinestats": ESQL_INLINESTATS,
    "esql_sample": ESQL_SAMPLE,
    "esql_lookup_join": ESQL_LOOKUP_JOIN,
    "esql_fork": ESQL_FORK,
    "esql_fuse": ESQL_FUSE,
    "esql_change_point": ESQL_CHANGE_POINT,
    "esql_where_in_like": ESQL_WHERE_IN_LIKE,
    "esql_where_or": ESQL_WHERE_OR,
    "esql_null_sort": ESQL_NULL_SORT,
    "esql_date_fns": ESQL_DATE_FNS,
    "esql_string_fns": ESQL_STRING_FNS,
    "esql_mv_fns": ESQL_MV_FNS,
    "esql_mv_text": ESQL_MV_TEXT,
    "esql_stats_ext": ESQL_STATS_EXT,
    "esql_row_math": ESQL_ROW_MATH,
    "bloom_decontaminate": BLOOM_DECONTAMINATE,
    "training_order": TRAINING_ORDER,
    "agg_ip_range": AGG_IP_RANGE,
    "agg_ip_prefix": AGG_IP_PREFIX,
    "agg_children": AGG_CHILDREN,
    "host_cap_keep": HOST_CAP_KEEP,
    "cluster_mixture_weights": _cluster_mixture_oracle(),
    "exact_substring_dedup": EXACT_SUBSTRING_DEDUP,
    "host_reputation_filter": HOST_REPUTATION_FILTER,
    "esql_bucket_stats": ESQL_BUCKET_STATS,
    "esql_case": ESQL_CASE,
    "esql_count_distinct": ESQL_COUNT_DISTINCT,
    "esql_where_dates": ESQL_WHERE_DATES,
    "esql_eval_fns": ESQL_EVAL_FNS,
    "agg_date_range": AGG_DATE_RANGE,
    "agg_random_sampler": AGG_RANDOM_SAMPLER,
    # same exhaustive scorer as brute top-k, plus the similarity gate
    "ann_bit_hamming_topk": _bit_hamming_oracle(),
    "ann_bit_rescore": _bit_rescore_oracle(),
    "ann_similarity_topk": ANN_BRUTE_TOPK.replace(
        "WHERE rank <= 10", "WHERE rank <= 10 AND cos >= 0.28"
    ),
    "agg_geo_line": AGG_GEO_LINE,
    "agg_bucket_script": AGG_BUCKET_SCRIPT,
    "geo_sort_topk": GEO_SORT_TOPK,
    "geo_polygon_query": geo_polygon_sql(),
    "span_not_topk": span_not_sql(),
    "span_multi_topk": span_multi_sql(),
    "dup_ngram_frac": DUP_NGRAM_FRAC,
    "agg_percentile_ranks": AGG_PERCENTILE_RANKS,
    "agg_weighted_avg": AGG_WEIGHTED_AVG,
    "agg_geohash_grid": _geohash_grid_sql(),
    "importance_score": IMPORTANCE_SCORE,
    "analyze_text": ANALYZE_TEXT,
    "domain_mixture_weights": DOMAIN_MIXTURE_WEIGHTS,
    "mixture_resample": MIXTURE_RESAMPLE,
    "agg_sampler_terms": _sampler_sql(False),
    "agg_diversified_sampler": _sampler_sql(True),
    "terms_lookup_topk": bm25_topk_sql(
        filter_sql="SELECT vec_id AS doc_id FROM embeddings WHERE label = 3"
    ),
    # filter context = docs containing the filter term, stats untouched
    "bm25_topk_wand_filtered": bm25_topk_sql(
        filter_sql="SELECT DISTINCT doc_id FROM tf WHERE term = 'data'"
    ),
}
