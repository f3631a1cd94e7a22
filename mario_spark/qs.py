"""ES/Lucene `query_string` and `simple_query_string` mini-languages,
compiled onto the engine's BM25 machinery.

Mario's delegated engine exposes query_string on every search box
(TIMDEX's simple search IS a query_string query); this module gives the
Spark engine the same surface. Grammar — the subset users actually
type:

    query   := clause+
    clause  := '+' atom | '-' atom | atom
    atom    := '"' word+ '"' | word

Bare atoms are SHOULD clauses, '+' marks MUST, '-' marks MUST_NOT;
quoted atoms are phrases. Lucene BooleanQuery semantics: a doc matches
iff every must clause matches, no must_not clause matches, and — when
there are should clauses but no must clauses — at least one should
clause matches (with musts present, shoulds are pure score boosts).
Score = sum of matching must+should clause scores. `field:` prefixes
scope a clause to one field of a fields=... index
(parse_query_string_fields); simple_query_string's grammar is at
parse_simple_query_string.

Unified clause model: every scoring clause is a CHAIN of analyzer
terms (length 1 = plain term, length > 1 = match_phrase). A clause
scores as Lucene PhraseWeight: idf = sum of member idfs, tf = chain
frequency (plain tf for a single term), saturated by BM25 — so a
single-term clause scores EXACTLY like a normal term query.

One engine serves both languages: _rank_query_strings scores their one
clause form (see the indexed section below) over a wand.Snapshot's
positional postings, for Snapshot.search_query_string (Index,
QuerySession, PIT, the suite's query_string operators) and
search_simple_query_string. The DuckDB oracles (query_string_sql,
query_string_fields_sql, oracles.simple_qs_sql) are generated from the
same parsers and are the contract.

search_query_string is the composition reference over raw
documents(doc_id, text), independent of the index, as
query.search_exhaustive is for WAND: all TERM clauses share one
tokenize + (doc, term) aggregation (a broadcast join against the tiny
clause dim prunes it to query terms); each PHRASE clause is one extra
projection over the token-array scan (adjacency counted in codegen, no
UDF). The per-doc combine is a single hash aggregation; matching rules
reduce to conditional counts joined against a broadcast per-query
constants dim.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, functions as F

from mario_spark.analyze import py_tokenize, tokenize_udf
from mario_spark.phrase import _chain_doc_ptfs, _positional_gather
from mario_spark.postings import idf as _idf
from mario_spark.query import (
    B,
    K1,
    SCORE_DECIMALS,
    bm25_contrib,
    bm25_contrib_np,
    bm25_idf,
    empty_result,
    topk,
)
from mario_spark.session import local_frame
from mario_spark.wand import Snapshot, _local_topk

_ATOM_RE = re.compile(r'([+-]?)(?:"([^"]*)"|(\S+))')


def parse_query_string(s: str) -> list[tuple[str, list[str]]]:
    """Parse into [(kind, chain_terms)]; kind in must|should|not.
    Atom text runs through the standard analyzer (py_tokenize), so
    'Hash-Join' and '"Sort Merge"' normalize exactly like indexed text.
    Atoms that analyze to zero terms are dropped (Lucene does the same
    for stopword-only clauses)."""
    out: list[tuple[str, list[str]]] = []
    for sign, quoted, bare in _ATOM_RE.findall(s):
        terms = py_tokenize(quoted if quoted else bare)
        if not terms:
            continue
        kind = {"+": "must", "-": "not"}.get(sign, "should")
        out.append((kind, terms))
    return out


def _chain_ctf_expr(arr, terms: list[str]):
    """Chain frequency of `terms` in token array `arr` as a pure
    codegen expression: number of start positions p with
    arr[p+j] == terms[j] for all j. Guarded so texts shorter than the
    chain emit 0 (F.sequence(1, 0) would yield a DESCENDING [1, 0])."""
    if len(terms) == 1:
        return F.size(F.filter(arr, lambda x: x == F.lit(terms[0])))
    m = len(terms) - 1
    starts = F.sequence(F.lit(1), F.size(arr) - m)
    conds = lambda p: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(m)),
        F.lit(True),
        lambda acc, j: acc
        & (
            F.element_at(arr, (p + j).cast("int"))
            == F.element_at(F.array(*[F.lit(t) for t in terms]), (j + 1).cast("int"))
        ),
    )
    return F.when(
        F.size(arr) > m,
        F.size(F.filter(starts, conds)),
    ).otherwise(F.lit(0))


def search_query_string(
    documents: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Run query_string queries over documents(doc_id, text);
    returns (query_id, rank, doc_id, score) — the engine's standard
    top-k contract."""
    spark = documents.sparkSession
    parsed = [(qid, parse_query_string(s)) for qid, s in queries]

    # persisted: the tokenize pandas UDF is the expensive pass, and
    # docs_t feeds tf, dl, AND the fused chain scan — cache once, read
    # three times (partitions cache as the first stage computes them,
    # so this helps even within the single final action)
    docs_t = documents.select(
        "doc_id", tokenize_udf(F.col("text")).alias("arr")
    ).filter(F.size("arr") > 0).persist()
    dl = docs_t.select("doc_id", F.size("arr").cast("double").alias("len"))
    st = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
    )
    tf = (
        docs_t.select("doc_id", F.explode("arr").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    # clause dims (driver-side, tiny): every clause-term pair for idf;
    # single-term scoring clauses route through the shared tf table
    cl_rows, term_cl_rows, qc = [], [], {}
    for qid, clauses in parsed:
        n_must = sum(1 for kind, _ in clauses if kind == "must")
        n_should = sum(1 for kind, _ in clauses if kind == "should")
        qc[qid] = (n_must, n_should)
        for cid, (kind, terms) in enumerate(clauses):
            for t in terms:
                cl_rows.append((qid, cid, kind, t))
            if len(terms) == 1:
                term_cl_rows.append((qid, cid, kind, terms[0]))
    cl = local_frame(
        spark, cl_rows,
        "query_id long, clause_id int, kind string, term string",
    )
    # per-clause idf sum (terms absent from the corpus contribute 0 and
    # can never match — Lucene's behavior for OOV terms)
    sidf = (
        cl.join(dfreq, "term", "left")
        .crossJoin(F.broadcast(st))
        .groupBy("query_id", "clause_id")
        .agg(
            F.sum(
                F.when(
                    F.col("df").isNotNull(),
                    bm25_idf("n_docs", "df"),
                ).otherwise(F.lit(0.0))
            ).alias("sidf")
        )
    )

    parts = []
    if term_cl_rows:
        tcl = local_frame(
            spark, term_cl_rows,
            "query_id long, clause_id int, kind string, term string",
        )
        parts.append(
            tf.join(F.broadcast(tcl), "term").select(
                "query_id", "clause_id", "kind", "doc_id", F.col("tf").alias("ctf")
            )
        )
    # every multi-term chain evaluates in ONE shared pass over the
    # tokenized corpus (an array-of-structs explode), instead of one
    # full scan + re-tokenize per chain — the count of corpus scans is
    # O(1) in the number of queries/phrases
    chain_structs = [
        F.struct(
            F.lit(qid).cast("long").alias("query_id"),
            F.lit(cid).cast("int").alias("clause_id"),
            F.lit(kind).alias("kind"),
            _chain_ctf_expr(F.col("arr"), terms).cast("double").alias("ctf"),
        )
        for qid, clauses in parsed
        for cid, (kind, terms) in enumerate(clauses)
        if len(terms) > 1
    ]
    if chain_structs:
        parts.append(
            docs_t.select(
                "doc_id", F.explode(F.array(*chain_structs)).alias("c")
            )
            .filter(F.col("c.ctf") > 0)
            .select(
                "c.query_id", "c.clause_id", "c.kind", "doc_id",
                F.col("c.ctf").alias("ctf"),
            )
        )
    if not parts:
        # every query analyzed to zero scoring clauses (empty string,
        # operators only, pure negation): Lucene matches nothing
        return empty_result(spark)
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)

    scored = (
        hits.join(F.broadcast(sidf), ["query_id", "clause_id"])
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .withColumn(
            "contrib",
            F.when(F.col("kind") == "not", F.lit(0.0)).otherwise(
                bm25_contrib("sidf", "ctf", "len", "avgdl")
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.countDistinct(
                F.when(F.col("kind") == "must", F.col("clause_id"))
            ).alias("n_must_hit"),
            F.max(F.when(F.col("kind") == "should", 1).otherwise(0)).alias(
                "any_should"
            ),
            F.max(F.when(F.col("kind") == "not", 1).otherwise(0)).alias(
                "any_not"
            ),
        )
    )
    qcdim = local_frame(
        spark, [(qid, nm, ns) for qid, (nm, ns) in qc.items()],
        "query_id long, req_must int, n_should int",
    )
    ok = (
        scored.join(F.broadcast(qcdim), "query_id")
        .filter(
            (F.col("any_not") == 0)
            & (F.col("n_must_hit") == F.col("req_must"))
            & (
                (F.col("n_should") == 0)
                | (F.col("req_must") > 0)
                | (F.col("any_should") == 1)
            )
        )
        .select("query_id", "doc_id", "score")
    )
    return topk(ok, k)


def query_string_sql(
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB oracle for search_query_string: identical clause model,
    arithmetic, and matching rules, generated from the same parse."""
    parsed = [(qid, parse_query_string(s)) for qid, s in queries]
    cl_vals, tcl_vals, qc_vals, ph_selects = [], [], [], []
    for qid, clauses in parsed:
        n_must = sum(1 for kind, _ in clauses if kind == "must")
        n_should = sum(1 for kind, _ in clauses if kind == "should")
        qc_vals.append(f"({qid}, {n_must}, {n_should})")
        for cid, (kind, terms) in enumerate(clauses):
            for t in terms:
                cl_vals.append(f"({qid}, {cid}, '{kind}', '{t}')")
            if len(terms) == 1:
                tcl_vals.append(f"({qid}, {cid}, '{kind}', '{terms[0]}')")
            else:
                m = len(terms) - 1
                conds = " AND ".join(
                    f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
                )
                ptf = (
                    f"CASE WHEN len(arr) > {m} THEN "
                    f"len(list_filter(generate_series(1, len(arr) - {m}), "
                    f"p -> {conds})) ELSE 0 END::DOUBLE"
                )
                ph_selects.append(
                    f"SELECT {qid} AS query_id, {cid} AS clause_id, "
                    f"'{kind}' AS kind, doc_id, {ptf} AS ctf FROM docs_t"
                )
    if not tcl_vals:  # keep the VALUES clause well-formed
        tcl_vals.append("(NULL, NULL, NULL, NULL)")
        term_part = ""
    else:
        term_part = (
            "SELECT tcl.query_id, tcl.clause_id, tcl.kind, tf.doc_id, tf.tf AS ctf "
            "FROM tf JOIN tcl USING (term)"
        )
    ph_part = " UNION ALL ".join(
        f"SELECT query_id, clause_id, kind, doc_id, ctf FROM ({s}) WHERE ctf > 0"
        for s in ph_selects
    )
    hits = " UNION ALL ".join(x for x in [term_part, ph_part] if x)
    tok = r"[\p{L}\p{N}]+"
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         regexp_extract_all(lower(nfc_normalize(text)), '{tok}') AS arr
  FROM documents
),
toks AS (SELECT doc_id, unnest(arr) AS term FROM docs_t),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS len FROM docs_t WHERE len(arr) > 0),
st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl),
dfr AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
cl(query_id, clause_id, kind, term) AS (VALUES {", ".join(cl_vals)}),
tcl(query_id, clause_id, kind, term) AS (VALUES {", ".join(tcl_vals)}),
qc(query_id, req_must, n_should) AS (VALUES {", ".join(qc_vals)}),
sidf AS (
  SELECT cl.query_id, cl.clause_id,
         sum(CASE WHEN dfr.df IS NOT NULL
             THEN ln(1.0 + ((SELECT n_docs FROM st) - dfr.df + 0.5) / (dfr.df + 0.5))
             ELSE 0.0 END) AS sidf
  FROM cl LEFT JOIN dfr USING (term)
  GROUP BY 1, 2
),
hits AS ({hits}),
contrib AS (
  SELECT h.query_id, h.doc_id, h.clause_id, h.kind,
         CASE WHEN h.kind = 'not' THEN 0.0
              ELSE s.sidf * (h.ctf * ({k1} + 1.0))
                   / (h.ctf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl))
         END AS contrib
  FROM hits h
  JOIN sidf s USING (query_id, clause_id)
  JOIN dl USING (doc_id)
  CROSS JOIN st
),
agg AS (
  SELECT query_id, doc_id,
         sum(contrib) AS score,
         count(DISTINCT CASE WHEN kind = 'must' THEN clause_id END) AS n_must_hit,
         max(CASE WHEN kind = 'should' THEN 1 ELSE 0 END) AS any_should,
         max(CASE WHEN kind = 'not' THEN 1 ELSE 0 END) AS any_not
  FROM contrib GROUP BY 1, 2
),
ok AS (
  SELECT a.query_id::BIGINT AS query_id, a.doc_id, a.score
  FROM agg a JOIN qc USING (query_id)
  WHERE a.any_not = 0
    AND a.n_must_hit = qc.req_must
    AND (qc.n_should = 0 OR qc.req_must > 0 OR a.any_should = 1)
),
rk AS (
  SELECT query_id, doc_id, round(score, {SCORE_DECIMALS}) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, {SCORE_DECIMALS}) DESC,
                                     doc_id ASC) AS rank
  FROM ok
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


# ------------------------------------------- field-scoped query_string
# ES query_string's `field:term` / `field:"a phrase"` syntax
# (reference users hit this on day one: TIMDEX exposes `title:` etc.
# over every analyzed field of es_record_mappings.json:33-401). Each
# field-scoped clause scores against THAT field's own statistics
# (df over the field, the field's docCount and avgFieldLength) —
# Lucene's per-field index semantics, same stats model as
# Snapshot.search(field=...). Unmapped field prefixes keep Lucene behavior:
# the clause can never match (a must on an unmapped field empties the
# query; a should contributes nothing) — this falls out naturally
# because an unmapped field has no postings, no df rows, no hits.
# Snapshot.search_query_string(default_field=...) serves it from a
# field-keyed positional index (`<field>:<term>` posting keys).

_FIELD_ATOM_RE = re.compile(
    r'([+-]?)(?:([A-Za-z_][A-Za-z0-9_]*):)?(?:"([^"]*)"|(\S+))'
)


def parse_query_string_fields(
    s: str, default_field: str
) -> list[tuple[str, str, list[str]]]:
    """Parse into [(kind, field, chain_terms)]; kind in
    must|should|not. `field:` prefixes scope the atom; atoms without a
    prefix target `default_field`. Atom text runs through the standard
    analyzer exactly like parse_query_string."""
    out: list[tuple[str, str, list[str]]] = []
    for sign, fld, quoted, bare in _FIELD_ATOM_RE.findall(s):
        terms = py_tokenize(quoted if quoted else bare)
        if not terms:
            continue
        kind = {"+": "must", "-": "not"}.get(sign, "should")
        out.append((kind, fld or default_field, terms))
    return out


def query_string_fields_sql(
    queries: list[tuple[int, str]],
    field_exprs_sql: dict,
    default_field: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB oracle for field-scoped query_string
    (Snapshot.search_query_string with default_field), generated from
    the SAME parse; `field_exprs_sql` maps field name -> SQL expression
    over `documents` deriving that field's text."""
    parsed = [
        (qid, parse_query_string_fields(s, default_field))
        for qid, s in queries
    ]
    cl_vals, tcl_vals, qc_vals, ph_selects = [], [], [], []
    for qid, clauses in parsed:
        n_must = sum(1 for kind, _, _ in clauses if kind == "must")
        n_should = sum(1 for kind, _, _ in clauses if kind == "should")
        qc_vals.append(f"({qid}, {n_must}, {n_should})")
        for cid, (kind, fld, terms) in enumerate(clauses):
            for t in terms:
                cl_vals.append(f"({qid}, {cid}, '{kind}', '{fld}', '{t}')")
            if len(terms) == 1:
                tcl_vals.append(
                    f"({qid}, {cid}, '{kind}', '{fld}', '{terms[0]}')"
                )
            else:
                m = len(terms) - 1
                conds = " AND ".join(
                    f"arr[p + {j}] = '{t}'" for j, t in enumerate(terms)
                )
                ptf = (
                    f"CASE WHEN len(arr) > {m} THEN "
                    f"len(list_filter(generate_series(1, len(arr) - {m}), "
                    f"p -> {conds})) ELSE 0 END::DOUBLE"
                )
                ph_selects.append(
                    f"SELECT {qid} AS query_id, {cid} AS clause_id, "
                    f"'{kind}' AS kind, '{fld}' AS field, doc_id, "
                    f"{ptf} AS ctf FROM docs_t WHERE field = '{fld}'"
                )
    if not tcl_vals:
        tcl_vals.append("(NULL, NULL, NULL, NULL, NULL)")
        term_part = ""
    else:
        term_part = (
            "SELECT tcl.query_id, tcl.clause_id, tcl.kind, tf.field, "
            "tf.doc_id, tf.tf AS ctf FROM tf JOIN tcl USING (field, term)"
        )
    ph_part = " UNION ALL ".join(
        f"SELECT query_id, clause_id, kind, field, doc_id, ctf "
        f"FROM ({s}) WHERE ctf > 0"
        for s in ph_selects
    )
    hits = " UNION ALL ".join(x for x in [term_part, ph_part] if x)
    tok = r"[\p{L}\p{N}]+"
    field_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{f}' AS field, "
        f"regexp_extract_all(lower(nfc_normalize({e})), '{tok}') AS arr "
        f"FROM documents"
        for f, e in field_exprs_sql.items()
    )
    return f"""
WITH docs_all AS ({field_rows}),
docs_t AS (SELECT * FROM docs_all WHERE len(arr) > 0),
toks AS (SELECT doc_id, field, unnest(arr) AS term FROM docs_t),
tf AS (SELECT field, doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, field, len(arr)::DOUBLE AS len FROM docs_t),
st AS (SELECT field, count(*)::DOUBLE AS n_docs, avg(len) AS avgdl FROM dl GROUP BY 1),
dfr AS (SELECT field, term, count(*)::DOUBLE AS df FROM tf GROUP BY 1, 2),
cl(query_id, clause_id, kind, field, term) AS (VALUES {", ".join(cl_vals)}),
tcl(query_id, clause_id, kind, field, term) AS (VALUES {", ".join(tcl_vals)}),
qc(query_id, req_must, n_should) AS (VALUES {", ".join(qc_vals)}),
sidf AS (
  SELECT cl.query_id, cl.clause_id,
         sum(CASE WHEN dfr.df IS NOT NULL
             THEN ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
             ELSE 0.0 END) AS sidf
  FROM cl
  LEFT JOIN dfr USING (field, term)
  LEFT JOIN st USING (field)
  GROUP BY 1, 2
),
hits AS ({hits}),
contrib AS (
  SELECT h.query_id, h.doc_id, h.clause_id, h.kind,
         CASE WHEN h.kind = 'not' THEN 0.0
              ELSE s.sidf * (h.ctf * ({k1} + 1.0))
                   / (h.ctf + {k1} * (1.0 - {b} + {b} * dl.len / st.avgdl))
         END AS contrib
  FROM hits h
  JOIN sidf s USING (query_id, clause_id)
  JOIN dl ON h.doc_id = dl.doc_id AND h.field = dl.field
  JOIN st ON h.field = st.field
),
agg AS (
  SELECT query_id, doc_id,
         sum(contrib) AS score,
         count(DISTINCT CASE WHEN kind = 'must' THEN clause_id END) AS n_must_hit,
         max(CASE WHEN kind = 'should' THEN 1 ELSE 0 END) AS any_should,
         max(CASE WHEN kind = 'not' THEN 1 ELSE 0 END) AS any_not
  FROM contrib GROUP BY 1, 2
),
ok AS (
  SELECT a.query_id::BIGINT AS query_id, a.doc_id, a.score
  FROM agg a JOIN qc USING (query_id)
  WHERE a.any_not = 0
    AND a.n_must_hit = qc.req_must
    AND (qc.n_should = 0 OR qc.req_must > 0 OR a.any_should = 1)
),
rk AS (
  SELECT query_id, doc_id, round(score, {SCORE_DECIMALS}) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, {SCORE_DECIMALS}) DESC,
                                     doc_id ASC) AS rank
  FROM ok
)
SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= {k}
"""


# ------------------------------------------------- indexed serving path
# Both query languages compile to ONE clause form over a Snapshot's
# positional postings, as ES compiles both to one Lucene BooleanQuery:
# a query is a list of groups, a group a list of (kind, field, keys,
# const) clauses, kind must | should | not. A chain clause hits where
# its keys occur in order and scores as PhraseWeight; a constant-score
# clause (const) hits where any of its keys occurs and adds 1.0. A doc
# scores the sum over the groups it matches. query_string is one group,
# simple_query_string one group per '|' disjunct.
def _clause_hits(tds: dict, terms: tuple, const: bool):
    """-> (ids, ctf, lens) of one dbucket's docs where the clause chain
    occurs (a single term's tf is its position count), or, const, where
    any of its terms occurs (ctf and lens None)."""
    if const:
        parts = [tds[t].ids for t in terms if t in tds]
        if not parts:
            return np.empty(0, np.int64), None, None
        return np.unique(np.concatenate(parts)), None, None
    if len(terms) == 1 and terms[0] in tds:
        td = tds[terms[0]]
        return td.ids, np.diff(td.pos_starts).astype(np.float64), td.lens
    ids, ctf, lens, _ = _chain_doc_ptfs(tds, terms, None)
    keep = ctf > 0
    return ids[keep], ctf[keep], lens[keep]


def _group_hits(tds: dict, clauses: list, req_must: int, n_should: int):
    """-> (ids, scores) of one dbucket's docs that match the group, or
    None: BooleanQuery rules (module docstring). `clauses` rows are
    (kind, const, terms, sidf, avgdl); avgdl is per clause so
    field-scoped clauses normalize by their own field's length."""
    hits = [
        (kind, const, sidf, ad, *_clause_hits(tds, terms, const))
        for kind, const, terms, sidf, ad in clauses
    ]
    parts = [h[4] for h in hits if h[4].size]
    if not parts:
        return None
    all_ids = np.unique(np.concatenate(parts))
    score = np.zeros(all_ids.size)
    must_cnt = np.zeros(all_ids.size, dtype=np.int64)
    should_hit = np.zeros(all_ids.size, dtype=bool)
    not_hit = np.zeros(all_ids.size, dtype=bool)
    for kind, const, sidf, ad, ids, ctf, lens in hits:
        if ids.size == 0:
            continue
        pos = np.searchsorted(all_ids, ids)
        if kind == "not":
            not_hit[pos] = True
            continue
        score[pos] += 1.0 if const else bm25_contrib_np(sidf, ctf, lens, ad)
        if kind == "must":
            must_cnt[pos] += 1
        else:
            should_hit[pos] = True
    keep = (
        ~not_hit
        & (must_cnt == req_must)
        & ((n_should == 0) | (req_must > 0) | should_hit)
    )
    return all_ids[keep], score[keep]


def _score_query_string(
    tds: dict, qid: int, groups: list, k: int, deleted=None
):
    """Evaluate one compiled query ((clauses, req_must, n_should) per
    group) against ONE dbucket of a positional index. Exact per bucket:
    all of a doc's postings live in its dbucket, so must-counts,
    exclusions, and phrase positions are bucket-local facts."""
    matched = [m for m in (_group_hits(tds, *g) for g in groups) if m]
    if not matched:
        return None
    if len(matched) == 1:  # every query_string; its ids are sorted unique
        ids, sc = matched[0]
    else:
        ids = np.unique(np.concatenate([i for i, _ in matched]))
        sc = np.zeros(ids.size)
        for g_ids, g_sc in matched:
            sc[np.searchsorted(ids, g_ids)] += g_sc
    if deleted is not None:
        live = ~np.isin(ids, deleted, assume_unique=True)
        ids, sc = ids[live], sc[live]
    if ids.size == 0:
        return None
    return _local_topk(qid, ids, sc, k)


def _indexed_clauses(
    queries: list[tuple[int, str]], default_field: str | None = None
) -> list:
    """query_string texts in the clause form, one group each. Unscoped
    (default_field None) clauses have field None and bare-term keys;
    field-scoped clauses key their terms as `<field>:<term>`
    (fields.py)."""

    def clauses(s: str) -> list[tuple[str, str | None, tuple, bool]]:
        if default_field is None:
            return [
                (kind, None, tuple(ts), False)
                for kind, ts in parse_query_string(s)
            ]
        return [
            (kind, fld, tuple(f"{fld}:{t}" for t in ts), False)
            for kind, fld, ts in parse_query_string_fields(s, default_field)
        ]

    return [(qid, [clauses(s)]) for qid, s in queries]


def _live_group(clauses: list, dfm: dict[str, int], stats: dict):
    """The group's kernel row (clauses, req_must, n_should), or None
    when it cannot match. A clause none of whose keys has a df (const),
    or one of whose keys has none (an OOV term, an unmapped field),
    never hits and is left out; a group left without one of its must
    clauses, or with no must and no should clause, is dropped. A
    chain's idf sum uses its field's docCount, its length norm the
    field's avgdl (`stats`)."""
    req_must = sum(1 for c in clauses if c[0] == "must")
    n_should = sum(1 for c in clauses if c[0] == "should")
    live = [
        c for c in clauses if (any if c[3] else all)(t in dfm for t in c[2])
    ]
    kinds = [c[0] for c in live]
    if kinds.count("must") < req_must or not (req_must or "should" in kinds):
        return None
    rows = []
    for kind, fld, keys, const in live:
        n_f, ad = stats.get(fld, (0, 0.0))
        sidf = 0.0 if const else sum(
            _idf(float(n_f), float(dfm[t])) for t in keys
        )
        rows.append((kind, const, keys, sidf, float(ad) or 1.0))
    return rows, req_must, n_should


def _rank_query_strings(
    snap: Snapshot, parsed: list, stats: dict, k: int = 10
) -> DataFrame:
    """The indexed body of both languages over `snap`'s postings and
    tombstones, every df from its TermStats: `parsed` queries in the
    clause form, `stats` = {clause field (None unscoped): (n_docs,
    avgdl)}. Groups with no must and no should clause are not looked
    up, and those that cannot match given the dfs are dropped before
    any scan (_live_group); a batch left with nothing runs no job."""
    parsed = [
        (qid, [g for g in groups if any(c[0] != "not" for c in g)])
        for qid, groups in parsed
    ]
    keys = sorted({t for _, gs in parsed for g in gs for c in g for t in c[2]})
    if not keys:
        return empty_result(snap.spark)
    dfm = snap.terms.df(keys)
    queries_c = []
    for qid, groups in parsed:
        live = [r for r in (_live_group(g, dfm, stats) for g in groups) if r]
        if live:
            queries_c.append((int(qid), live))
    deleted = snap.deleted

    def score_one(tds, qid, groups):
        return _score_query_string(tds, qid, groups, k, deleted)

    scan = sorted(
        {t for _, gs in queries_c for g, _, _ in gs for c in g for t in c[2]}
    )
    return _positional_gather(snap, scan, queries_c, score_one, k, dfm)


def parse_simple_query_string(
    s: str,
) -> list[list[tuple[str, bool, list[str]]]]:
    """ES simple_query_string grammar (the subset with distinct
    semantics from query_string), default_operator=AND:

        query    := disjunct ('|' disjunct)*
        disjunct := clause+                  (whitespace = AND)
        clause   := '-'? atom
        atom     := '"' word+ '"' | word '*' | word

    -> [[(type, negated, terms)]] — one list per disjunct; type is
    'chain' (term/phrase) or 'prefix'. Like Lucene's SimpleQueryParser
    the grammar NEVER raises: malformed input degrades to terms.
    Pure-negative disjuncts are dropped (no positive clause to anchor
    the iterator), '+' signs are absorbed (AND is already the default),
    and '*' on a token that analyzes to multiple terms degrades to a
    phrase."""
    out = []
    for part in s.split("|"):
        clauses: list[tuple[str, bool, list[str]]] = []
        for sign, quoted, bare in _ATOM_RE.findall(part):
            neg = sign == "-"
            if quoted:
                terms = py_tokenize(quoted)
                if terms:
                    clauses.append(("chain", neg, terms))
                continue
            if bare.endswith("*"):
                toks = py_tokenize(bare[:-1])
                if len(toks) == 1:
                    clauses.append(("prefix", neg, toks))
                    continue
                terms = toks
            else:
                terms = py_tokenize(bare)
            if terms:
                clauses.append(("chain", neg, terms))
        if any(not neg for _, neg, _ in clauses):
            out.append(clauses)
    return out


def search_simple_query_string(
    snap: Snapshot,
    queries: list[tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """ES simple_query_string over a positions=True Snapshot; returns
    (query_id, rank, doc_id, score). Each disjunct is one group of must
    (positive) and not (negated) clauses, so a doc matches iff it
    matches at least one disjunct, and scores the sum over the ones it
    matches (Lucene BooleanQuery over ((a AND b) OR c)). Chain clauses
    score as PhraseWeight (a single term is plain BM25); a `word*`
    clause is CONSTANT_SCORE +1.0 (Lucene's multi-term rewrite in this
    parser) over its TermStats.prefix_windows expansions, one window
    read for the batch. A field-scoped snapshot refuses, as
    search_terms does."""
    _, n_docs, avgdl = snap.scope(None)
    snap.require_positions("simple_query_string phrase clauses")
    parsed = [(int(qid), parse_simple_query_string(s)) for qid, s in queries]
    prefixes = sorted(
        {ts[0] for _, gs in parsed for g in gs for typ, _, ts in g
         if typ == "prefix"}
    )
    window = snap.terms.prefix_windows(prefixes) if prefixes else {}

    def clause(typ: str, neg: bool, ts: list[str]) -> tuple:
        keys = window[ts[0]] if typ == "prefix" else ts
        return ("not" if neg else "must", None, tuple(keys), typ == "prefix")

    compiled = [
        (qid, [[clause(*c) for c in g] for g in groups])
        for qid, groups in parsed
    ]
    return _rank_query_strings(snap, compiled, {None: (n_docs, avgdl)}, k)
