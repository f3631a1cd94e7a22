"""Deterministic synthetic corpora + the reference query set.

F1 `pages` (the authoritative input shape):
    pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
Generated distributed (spark.range -> mapInPandas) and purely per-doc-id
via counter-based Philox RNG, so content(i) is a pure function of
(seed, i) regardless of partitioning — this is what makes 100TB-scale
generation AND planted duplicates possible without cross-partition
dependencies: a dup doc recomputes its source doc's text from its id.

F2 `documents` adapter: maps the driver's read-only
/root/testdata/sf*/documents.parquet onto the F1 shape.

F3 query set: fixed, seeded — used by tests, the driver oracle contract,
and bench.

Mario analogue: mario's only fixture is 6 JSON records
(/root/reference/fixtures/timdex_record_samples.json, count asserted at
pkg/generator/jsonrecord_test.go:25); see tests/fixtures/timdex_sample.json
for our independently-authored equivalent.
"""

from __future__ import annotations

import html as _html
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
_EPOCH = pd.Timestamp("2025-01-01T00:00:00Z")

# A handful of real + non-ASCII tokens occupying the head of the vocab so
# Unicode/NFC handling is exercised constantly; the tail is synthetic.
_HEAD_WORDS = [
    "the", "data", "web", "search", "index", "spark", "query", "page",
    "pérez", "zürich", "東京", "naïve", "crawl", "text", "open", "score",
]


def make_vocab(size: int = VOCAB_SIZE) -> list[str]:
    return _HEAD_WORDS + [f"w{i:05d}" for i in range(size - len(_HEAD_WORDS))]


def zipf_probs(size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, size + 1, dtype=np.float64), s)
    return p / p.sum()


_LANGS = np.array(["en", "es", "de", "zh", "fr"])
_LANG_P = np.array([0.7, 0.1, 0.08, 0.06, 0.06])


def _rng_for(seed: int, doc_id: int, stream: int = 0) -> np.random.Generator:
    """Counter-based per-doc RNG: pure function of (seed, doc_id)."""
    return np.random.Generator(
        np.random.Philox(key=seed, counter=[0, 0, stream, doc_id])
    )


def _mutate(base: list[str], k: int, seed: int, vocab: list[str], probs: np.ndarray) -> list[str]:
    """~1.5% token swaps, deterministic per doc id k."""
    rng = _rng_for(seed, k, stream=1)
    out = list(base)
    n_swap = max(1, len(out) // 64)
    idx = rng.choice(len(out), size=min(n_swap, len(out)), replace=False)
    repl = rng.choice(len(vocab), size=len(idx), p=probs)
    for j, r in zip(idx, repl):
        out[j] = vocab[r]
    return out


def _doc_tokens(i: int, seed: int, vocab: list[str], probs: np.ndarray) -> list[str]:
    """Deterministic token list for doc i. Dup-planting rules:

    - i % 100 == 7 (i>=100): EXACT duplicate of doc i%100 (every doc in
      the residue-7 chain shares one source text).
    - i % 100 == 13 (i>=100): NEAR duplicate of doc i%100 (~1.5% tokens
      swapped, independently per doc — so any two docs of the chain
      differ by <= ~3%). O(1) per doc and stack-free at any corpus size
      (a recursive i-100 formulation overflowed past ~100k docs, and an
      iterative chain made generation quadratic).
    """
    if i >= 100 and i % 100 == 7:
        i = i % 100  # exact-dup chain collapses to the block-0 doc
    elif i >= 100 and i % 100 == 13:
        return _mutate(_doc_tokens(i % 100, seed, vocab, probs), i, seed, vocab, probs)
    rng = _rng_for(seed, i)
    if rng.random() < 0.02:  # ~2% near-empty docs
        n = int(rng.integers(1, 4))
    else:
        n = int(np.clip(rng.lognormal(5.0, 0.6), 8, 2048))
    return [vocab[k] for k in rng.choice(len(vocab), size=n, p=probs)]


def _wrap_html(tokens: list[str], url: str) -> str:
    """HTML wrapper s.t. extract(html) == ' '.join(tokens) byte-identically.

    Every 7th token is wrapped in <em> (extraction strips inline tags);
    boilerplate title/nav/script/footer must be ignored by the extractor.
    """
    body = " ".join(
        f"<em>{t}</em>" if j % 7 == 6 else t for j, t in enumerate(tokens)
    )
    title = _html.escape(" ".join(tokens[:6]))
    return (
        f"<html><head><title>{title}</title>"
        "<script>var t=performance.now();</script>"
        '<style>p{margin:0}</style></head>'
        f'<body><nav><a href="/">home</a> | <a href="/about">about</a></nav>'
        f"<article>{body}</article>"
        f"<footer>&copy; crawl of {_html.escape(url)}</footer></body></html>"
    )


def _gen_batch(ids: np.ndarray, seed: int, vocab: list[str], probs: np.ndarray) -> pd.DataFrame:
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in ids:
        i = int(i)
        toks = _doc_tokens(i, seed, vocab, probs)
        text = " ".join(toks)
        url = f"https://site{i % 97}.example/p/{i:08d}"
        urls.append(url)
        tss.append(_EPOCH + pd.Timedelta(seconds=i))
        htmls.append(_wrap_html(toks, url).encode("utf-8"))
        texts.append(text)
        langs.append(_LANGS[_rng_for(seed, i, stream=2).choice(len(_LANGS), p=_LANG_P)])
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs}
    )


def pages_pdf(n_docs: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side tiny corpus (unit tests / oracles)."""
    vocab, probs = make_vocab(), zipf_probs()
    return _gen_batch(np.arange(n_docs), seed, vocab, probs)


def pages_df(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic pages corpus.

    spark.range gives each task an id range; content is a pure function
    of id, so the result is identical under any partitioning — the
    property that makes this valid at cluster scale.
    """
    vocab, probs = make_vocab(), zipf_probs()
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _gen_batch(b["id"].to_numpy(), seed, vocab, probs)

    return spark.range(0, n_docs, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


# ------------------------------------------------------- documents adapter
def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents.parquet onto the F1 `pages` shape.

    html=NULL (extraction stage skipped), url synthesized from
    (source, doc_id); deterministic warc_ts = epoch + doc_id seconds.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.concat(F.lit("testdata://"), "source", F.lit("/"), "doc_id").alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# -------------------------------------------------------------- query sets
# Fixed query set over the driver documents corpus (vocab is the small
# SQL-themed word list). Mix: head terms, rare term ('dup'), OOV ('zzz'),
# 2-4 term disjunctive queries. Terms within a query are distinct.
DOCUMENTS_QUERY_SET: list[tuple[int, str]] = [
    (0, "join"),
    (1, "the"),
    (2, "dup"),
    (3, "zzz"),                      # OOV -> empty result
    (4, "spark query"),
    (5, "hash join"),
    (6, "window agg"),
    (7, "slow fast merge"),
    (8, "key value stream sort"),
    (9, "customer order"),
    (10, "a"),
    (11, "vector scan"),
    (12, "big data table"),
    (13, "filter column"),
]


# bool.must_not companion to DOCUMENTS_QUERY_SET: every query excludes
# docs containing 'merge' (a mid-frequency vocab word, so the exclusion
# visibly reshuffles several top-10 lists), and query 5 additionally
# excludes 'stream' — exercising per-query exclusion lists.
DOCUMENTS_MUSTNOT_SET: list[tuple[int, str]] = [
    (qid, "merge") for qid, _ in DOCUMENTS_QUERY_SET
] + [(5, "stream")]


# Fuzzy (ES match+fuzziness, max_edits=1 prefix_length=1) query set:
# misspellings one classic-Levenshtein edit from a vocab word (insert /
# delete / substitute), one exact word (expands to itself), one OOV
# with no expansion, and two multi-term fuzzy queries.
DOCUMENTS_FUZZY_SET: list[tuple[int, str]] = [
    (0, "joim"),        # -> join  (substitute)
    (1, "quer"),        # -> query (delete)
    (2, "mergee"),      # -> merge (insert)
    (3, "windoe"),      # -> window
    (4, "strean"),      # -> stream
    (5, "hash"),        # exact: expands to itself
    (6, "kay"),         # -> key
    (7, "zzz"),         # OOV, no expansion -> empty
    (8, "quer joim"),   # multi-term fuzzy
    (9, "tble sirt"),   # -> table, sort
]


# Phrase (match_phrase) query set over the driver documents corpus:
# bigrams with real support, one trigram, one OOV-term phrase (empty
# result), one zero-adjacency phrase (both terms common, never adjacent
# is unlikely — kept as a support probe).
DOCUMENTS_PHRASE_SET: list[tuple[int, str]] = [
    (0, "table hash"),
    (1, "customer join"),
    (2, "merge group"),
    (3, "vector small"),
    (4, "the fast key"),
    (5, "zzz join"),
]


# Prefix-query set: 's' fans out to six vocab terms, the rest are
# narrower; 'zz' matches nothing.
DOCUMENTS_PREFIX_SET: list[tuple[int, str]] = [
    (0, "jo"),     # -> join
    (1, "s"),      # -> scan slow small sort spark stream
    (2, "qu"),     # -> query
    (3, "ta"),     # -> table
    (4, "zz"),     # no expansion -> empty
]


# Wildcard-query set (* = any run, ? = one char, whole-term match).
DOCUMENTS_WILDCARD_SET: list[tuple[int, str]] = [
    (0, "w*ow"),    # -> window
    (1, "sc?n"),    # -> scan
    (2, "*der"),    # -> order (leading wildcard)
    (3, "s??ll"),   # -> small
    (4, "*zz*"),    # no expansion -> empty
]


# Query-time synonym table (ES synonym_graph equivalent) + its query
# set. 'quick' / 'large' are OOV on the documents corpus, so those
# groups score with df = max over the present members only.
DOCUMENTS_SYNONYMS: dict[str, list[str]] = {
    "sort": ["order"],
    "order": ["sort"],
    "fast": ["quick"],
    "big": ["large"],
}
DOCUMENTS_SYNONYM_QUERY_SET: list[tuple[int, str]] = [
    (0, "sort"),
    (1, "fast data"),
    (2, "big table"),
    (3, "order key"),
]


# match_phrase_prefix set: last whitespace token is the prefix, the
# rest are exact phrase members. 'zz' has no expansion -> empty.
DOCUMENTS_PHRASE_PREFIX_SET: list[tuple[int, str]] = [
    (0, "hash jo"),       # hash + jo*   (join)
    (1, "the fa"),        # the + fa*    (fast)
    (2, "customer or"),   # customer + or* (order)
    (3, "merge zz"),      # no expansion -> empty
    (4, "table s"),       # wide expansion fan-out
]


# Regexp-query set (ES regexp query: whole-term match). Patterns stay
# in the dialect subset where Java regex (Spark) and RE2 (DuckDB)
# agree: literals, ., classes, alternation, + and * quantifiers.
DOCUMENTS_REGEXP_SET: list[tuple[int, str]] = [
    (0, "jo.n"),         # -> join
    (1, "s(can|ort)"),   # -> scan, sort (alternation)
    (2, "qu[a-z]+"),     # -> query (class + quantifier)
    (3, ".*dow"),        # -> window (leading any-run)
    (4, "zz+"),          # no whole-term match -> empty
]


# Term-suggester inputs ("did you mean"): misspellings of corpus
# vocabulary at 1-2 classic-Levenshtein edits (incl. transpositions,
# which count as 2).
DOCUMENTS_SUGGEST_SET: list[str] = [
    "jion",      # join (1)
    "tabel",     # table (2: transposition)
    "merg",      # merge (1)
    "windwo",    # window (2)
    "qery",      # query (1)
]


# query_string mini-language set (mario_spark.qs): bare = should,
# '+' = must, '-' = must_not, quotes = phrase. Exercises every clause
# kind, shoulds-optional-with-musts, pure-must, OOV must (empty), and
# a phrase-only query.
DOCUMENTS_QS_SET: list[tuple[int, str]] = [
    (0, "hash join -merge"),           # should+should, exclusion
    (1, '+table "sort merge"'),        # must term + should phrase
    (2, "scan +fast -slow batch"),     # mixed
    (3, '"hash join" window'),         # phrase should + term should
    (4, "+spark +window"),             # pure conjunction
    (5, "+zzz join"),                  # OOV must -> empty result
]


# field-scoped query_string set (Snapshot.search_query_string with
# default_field="contents", over the suite's positional field index):
# `title:` / `contents:` prefixes scope clauses to per-field stats;
# unprefixed atoms hit the default field (contents). Exercises field
# should/must/not, a field phrase, cross-field composition, and the
# unmapped-field behaviors (should = contributes nothing, must =
# query matches nothing — Lucene semantics).
DOCUMENTS_QSF_SET: list[tuple[int, str]] = [
    (0, "title:hash join"),                  # field should + default should
    (1, '+title:table contents:"sort merge"'),  # field must + field phrase
    (2, "scan -title:fast"),                 # default should, field not
    (3, "+contents:window +title:key"),      # cross-field conjunction
    (4, "missing:foo join"),                 # unmapped should -> ignored
    (5, "+missing:foo join"),                # unmapped must -> empty
]


# Ordered-proximity (span_near in_order, slop=2) query set: bigrams
# only (keeps the SQL oracle's nested window predicate simple); the
# wider window makes these match strictly more docs than slop=0.
DOCUMENTS_NEAR_SET: list[tuple[int, str]] = [
    (0, "table hash"),
    (1, "customer join"),
    (2, "merge group"),
    (3, "vector small"),
    (4, "key stream"),
    (5, "zzz join"),     # OOV member -> empty result
]


# Span-query sets (Lucene SpanOrQuery / SpanNotQuery).
# span_or: a doc matches if ANY alternative phrase occurs; query 2 has
# one OOV alternative (the live one still matches), query 3 is all-OOV.
DOCUMENTS_SPAN_OR_SET: list[tuple[int, list[str]]] = [
    (0, ["table hash", "customer join"]),
    (1, ["merge group", "vector small"]),
    (2, ["zzz join", "key stream"]),
    (3, ["zzz yyy", "qqq www"]),
]

# span_not: (include phrase, exclude term) — spans widened by pre=1 /
# post=1 that contain the exclude term are discarded; query 2 excludes
# an OOV term (pure phrase), query 3 excludes a stopword-frequency term.
DOCUMENTS_SPAN_NOT_SET: list[tuple[int, str, str]] = [
    (0, "table hash", "join"),
    (1, "customer join", "the"),
    (2, "merge group", "zzz"),
    (3, "vector small", "a"),
]


# Damerau-fuzzy set: transpositions are ONE edit (classic fuzzy would
# miss queries 0-1 entirely — lev 2); query 2 exercises the classic
# branch too, query 3 is OOV.
DOCUMENTS_FUZZY_DAMERAU_SET: list[tuple[int, str]] = [
    (0, "tabel"),        # -> table via transposition (lev 2, OSA 1)
    (1, "hsah join"),    # -> hash (transposition) + join (exact)
    (2, "mergee"),       # -> merge (classic delete)
    (3, "zzz"),          # OOV -> empty
]


# span_first: (phrase, end) — a chain match counts only if its span
# lies entirely within the first `end` token positions (Lucene
# SpanFirstQuery). Query 1 is a single-term span; query 3 is OOV.
DOCUMENTS_SPAN_FIRST_SET: list[tuple[int, str, int]] = [
    (0, "table hash", 8),
    (1, "customer", 4),
    (2, "merge group", 50),
    (3, "zzz", 5),
]


# pinned query: per-query promoted doc ids (rank first, in this order,
# ahead of every organic match; pins count toward size). Ids stay < 100
# so they exist at every sf; query 3 (OOV) shows pins surfacing even
# with zero organic matches.
DOCUMENTS_PINNED_SET: list[tuple[int, list[int]]] = [
    (qid, [(3 * qid + 1) % 100, (5 * qid + 2) % 100])
    for qid, _ in DOCUMENTS_QUERY_SET
]


# Phrase-suggester inputs: bigrams with dist-1 misspellings; query 2 is
# already correct (dist-0 candidates included), query 3's first term is
# unsuggestable (no dictionary term within 1 edit).
DOCUMENTS_PHRASE_SUGGEST_SET: list[tuple[int, str]] = [
    (0, "tble hash"),
    (1, "customr join"),
    (2, "merge group"),
    (3, "zzzqq hash"),
]


def make_pages_query_set(seed: int = 42, n: int = 50) -> list[tuple[int, str]]:
    """F3 query set over the synthetic pages corpus: 20 single-term
    (3 head, 3 rare, 2 OOV), 20 two-term, 10 three/four-term."""
    vocab = make_vocab()
    rng = np.random.Generator(np.random.Philox(key=seed, counter=[0, 0, 9, 0]))
    qs: list[tuple[int, str]] = []
    qid = 0
    # single-term
    for w in [vocab[0], vocab[1], vocab[2]]:  # head
        qs.append((qid, w)); qid += 1
    for _ in range(3):  # rare tail
        qs.append((qid, vocab[int(rng.integers(VOCAB_SIZE - 2000, VOCAB_SIZE))])); qid += 1
    for w in ["qqqxyz", "zzzoov"]:  # OOV
        qs.append((qid, w)); qid += 1
    while qid < 20:
        qs.append((qid, vocab[int(rng.integers(0, 2000))])); qid += 1
    # multi-term
    for _ in range(20):
        k = 2
        idx = rng.choice(3000, size=k, replace=False)
        qs.append((qid, " ".join(vocab[int(j)] for j in idx))); qid += 1
    for _ in range(n - qid):
        k = int(rng.integers(3, 5))
        idx = rng.choice(3000, size=k, replace=False)
        qs.append((qid, " ".join(vocab[int(j)] for j in idx))); qid += 1
    return qs


# Multi-word synonym set (ES query-time synonym_graph): the user types
# `term`; the graph expands it to term OR "phrase". Phrases reuse the
# supported bigrams from DOCUMENTS_PHRASE_SET; query 2 has an OOV
# phrase member (the phrase path must contribute nothing).
SYNONYM_GRAPH_SET: list[tuple[int, str, str]] = [
    (0, "merge", "table hash"),
    (1, "window", "customer join"),
    (2, "sort", "zzz join"),
]


# Per-clause boosted query set (ES bool.should with per-term boost):
# (query_id, term, boost). Boosts chosen to actually reorder results
# vs the unboosted query (3x on a rarer term, 0.5x demotion, an OOV
# boost that must change nothing).
DOCUMENTS_BOOSTED_SET: list[tuple[int, str, float]] = [
    (0, "hash", 2.0),
    (0, "join", 1.0),
    (1, "slow", 1.0),
    (1, "fast", 3.0),
    (1, "merge", 0.5),
    (2, "customer", 2.0),
    (2, "zzz", 4.0),
]


def query_term_rows(query_set: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """(query_id, term) pairs — queries analyzed with the same tokenizer,
    each query's terms distinct and in order."""
    from mario_spark.analyze import py_tokenize

    return [(qid, t) for qid, q in query_set
            for t in dict.fromkeys(py_tokenize(q))]


def query_terms_df(spark: SparkSession, query_set: list[tuple[int, str]]) -> DataFrame:
    """query_term_rows as a local relation: collecting it (search_wand
    does) runs no job."""
    from mario_spark.session import local_frame

    return local_frame(
        spark, query_term_rows(query_set), "query_id long, term string"
    )


# ES terms_set query set: (query_id, terms, minimum_should_match).
# Query 2's min of 2 is unsatisfiable (zzz is OOV) -> empty result;
# query 4 requires all four terms (conjunctive degenerate case).
DOCUMENTS_TERMS_SET_SET: list[tuple[int, list[str], int]] = [
    (0, ["join", "hash", "merge"], 2),
    (1, ["spark", "query", "window", "sort"], 3),
    (2, ["zzz", "join"], 2),
    (3, ["dup", "key"], 1),
    (4, ["customer", "order", "line", "batch"], 4),
]


# ES percolate registry: stored queries (bool.must of their terms)
# reverse-matched against an incoming doc batch. Query 3 is OOV and
# can never fire; query 1 targets the rare 'dup' term.
DOCUMENTS_PERCOLATE_SET: list[tuple[int, str]] = [
    (0, "join hash merge"),
    (1, "dup"),
    (2, "query window sort spark"),
    (3, "zzz"),
    (4, "customer order"),
]


# ES intervals query set (match, ordered:true, max_gaps):
# (query_id, term1, term2, max_gaps). g=0 degenerates to an ordered
# bigram; query 3 pairs two head terms with a wide gap; query 4 is OOV.
DOCUMENTS_INTERVALS_SET: list[tuple[int, str, str, int]] = [
    (0, "hash", "join", 2),
    (1, "table", "hash", 0),
    (2, "customer", "order", 4),
    (3, "the", "value", 8),
    (4, "zzz", "join", 3),
]


# match_bool_prefix (search_as_you_type) query set: the last token is
# the partially-typed prefix. Query 2 is prefix-only (single token),
# query 4's prefix matches nothing.
DOCUMENTS_SAYT_SET: list[tuple[int, str]] = [
    (0, "hash jo"),
    (1, "customer ord"),
    (2, "s"),
    (3, "window agg qu"),
    (4, "merge zzz"),
]


# SpanContaining/SpanWithin query set: big = ordered (t1, t2) span_near
# pair with max_gaps, little = single term to find inside the span.
# (query_id, t1, t2, max_gaps, little). Query 3's little is OOV.
DOCUMENTS_SPAN_CONTAIN_SET: list[tuple[int, str, str, int, str]] = [
    (0, "table", "hash", 3, "value"),
    (1, "customer", "join", 4, "the"),
    (2, "hash", "join", 2, "a"),
    (3, "window", "agg", 5, "zzz"),
    (4, "the", "value", 6, "fast"),
]


# simple_query_string set (default_operator=AND): whitespace = AND,
# '|' = OR between groups, '-' negates, quotes = phrase, trailing '*'
# = prefix. Query 3's first alternative is OOV; query 4's negation
# never fires.
DOCUMENTS_SQS_SET: list[tuple[int, str]] = [
    (0, "hash join | merge sort"),
    (1, 'table -merge | "customer join"'),
    (2, "quer* window"),
    (3, "zzz | dup"),
    (4, '"the fast" -zzz'),
]
