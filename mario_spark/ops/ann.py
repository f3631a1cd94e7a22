"""Embedding similarity search over an array<float> column.

Two regimes, per the training-data-pipeline requirement:
- `brute_topk`: exact cosine top-k — the correctness baseline. The
  Spark path is a broadcast of the (small) query matrix + a vectorized
  numpy matmul inside mapInPandas per partition, then a per-query
  global top-k. This is the right 100TB shape: the corpus never
  shuffles, each partition emits <= k rows per query, and the matmul is
  BLAS-speed; the final TakeOrdered touches only
  n_partitions * k * n_queries rows.
- `lsh_nearest_pairs`: random-hyperplane LSH bucketing (sign-bit
  signature from fixed ±1 hyperplanes), exact cosine within buckets —
  the scale path for all-pairs similarity: the quadratic join is
  confined to buckets. Hyperplanes are pinned literals so the DuckDB
  oracle reproduces the bucketing exactly.

All cosines are computed in float64 (DuckDB's list_cosine_similarity is
float32 and disagrees at ~1e-7 — the oracles spell out the float64 sum
instead) and rounded to 4dp for cross-engine value identity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_HYPERPLANES = 4
_HP_SEED = 1234


def hyperplanes(dim: int = 64, n: int = N_HYPERPLANES, seed: int = _HP_SEED) -> np.ndarray:
    """Fixed ±1 hyperplanes, pure function of (seed, n, dim)."""
    rng = np.random.Generator(np.random.Philox(key=seed, counter=[0, 0, 0, 0]))
    return rng.choice(np.array([-1.0, 1.0]), size=(n, dim))


def auto_hyperplanes(n_vectors: int, target_bucket: int = 256) -> int:
    """Scale-aware hyperplane count: ~log2(n / target_bucket), so mean
    bucket size stays ~target_bucket and the within-bucket quadratic is
    bounded as the corpus grows (4 planes = 16 buckets is a demo
    setting; 10^9 vectors at target 256 needs ~22 planes).
    """
    import math

    return max(N_HYPERPLANES, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))


def cosine_expr(a: str, b: str):
    """Float64 cosine as a Column (zip_with + aggregate, JVM-side)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def _safe_norm(M: np.ndarray) -> np.ndarray:
    """Row L2 norms with zero-norm rows mapped to 1, so an all-zero
    vector scores cosine 0 against everything (deterministically last)
    instead of propagating NaN into the ranking window."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return n


def brute_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    candidates: DataFrame = None,
) -> DataFrame:
    """-> (query_id, rank, vec_id, cos) exact cosine top-k per query.

    Self-matches are excluded. Scores rounded 4dp; rank ties break on
    vec_id asc (same determinism contract as BM25 top-k).

    `candidates` (default: embeddings) is the searched set — pass a
    FILTERED frame for ES kNN-with-filter semantics (pre-filtering: all
    k results satisfy the filter; the filter prunes the scan BEFORE any
    distance math, pushing down to parquet). Query vectors always
    resolve from the full `embeddings` frame.
    """
    spark = embeddings.sparkSession
    if candidates is None:
        candidates = embeddings
    qrows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    Qn = Q / _safe_norm(Q)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(np.int64)
            Vn = V / _safe_norm(V)
            cos = Qn @ Vn.T  # (q, n)
            out_q, out_v, out_c = [], [], []
            for qi in range(len(qids)):
                c = cos[qi]
                mask = ids != qids[qi]
                cm, im = c[mask], ids[mask]
                # local top-k: score desc, vec_id asc
                order = np.lexsort((im, -cm))[:k]
                out_q.append(np.full(order.size, qids[qi], dtype=np.int64))
                out_v.append(im[order])
                out_c.append(cm[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cos": np.concatenate(out_c),
                }
            )

    local = candidates.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, cos double"
    )
    s = local.withColumn("cos", F.round("cos", 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def brute_topk_vectors(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of EXPLICIT query vectors against
    (id, vector) rows — the serving-path twin of brute_topk (which
    resolves queries by vec_id from the same table). No
    self-exclusion: the queries are external (an ES kNN search body
    carries the raw query_vector). Same distributed shape: the
    normalized query matrix broadcasts in the task closure, each
    partition emits <= k rows per query via one BLAS matmul, the final
    per-query window ranks <= k * n_partitions tiny rows.

    -> (query_id, rank, <id_col>, cos), cos rounded 4dp, ties on id asc.
    """
    qids = np.array([int(q) for q, _ in query_vectors], dtype=np.int64)
    Q = np.array([v for _, v in query_vectors], dtype=np.float64)
    Qn = Q / _safe_norm(Q)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy(np.int64)
            Vn = V / _safe_norm(V)
            cos = Qn @ Vn.T
            out_q, out_v, out_c = [], [], []
            for qi in range(len(qids)):
                c = cos[qi]
                order = np.lexsort((ids, -c))[:k]
                out_q.append(np.full(order.size, qids[qi], dtype=np.int64))
                out_v.append(ids[order])
                out_c.append(c[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_v),
                    "cos": np.concatenate(out_c),
                }
            )

    local = frame.select(id_col, vec_col).mapInPandas(
        kernel, f"query_id long, {id_col} long, cos double"
    )
    s = local.withColumn("cos", F.round("cos", 4))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "cos")
    )


def bucket_signature_expr(hp: np.ndarray):
    """LSH bucket id: sum of sign bits vs the pinned hyperplanes.

    Built as a JVM expression (aggregate over the embedding array) —
    identical arithmetic to the SQL oracle.
    """
    sig = F.lit(0)
    for i, row in enumerate(hp):
        dot = F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(float(v)) for v in row]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


DEFAULT_CENTROID_IDS = list(range(10, 18))  # 8 sampled centroids
IVF_N_PROBE = 2


def _assign_cells(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, scale-shaped: the centroid matrix
    (collected driver-side — n_cells rows, tiny by contract) broadcasts
    in a mapInPandas closure; each Arrow batch runs ONE (n x d) @
    (d x m) matmul and an argmin. Replaces the former
    crossJoin(broadcast(cents)) + per-vector row_number window — whose
    N x n_cells rows through a vec_id-partitioned window was the
    dominant shuffle at real cell counts (the 10^9-vector / thousands-
    of-cells regime). Ties (equal squared L2) resolve to the LOWEST
    cell id, identical to the old orderBy(d, cell) rank-1 rule and to
    the DuckDB oracle. Output: the input columns + cell (long); the
    pass is narrow (partition-preserving, no exchange).
    """
    crows = sorted(
        cents.select("cell", "cvec").collect(), key=lambda r: r["cell"]
    )
    cid = np.array([r["cell"] for r in crows], dtype=np.int64)
    C = np.array([r["cvec"] for r in crows], dtype=np.float64)
    csq = (C * C).sum(axis=1)
    vec_col = "embedding"
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in embeddings.schema.fields
    )

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + csq[None, :]
            out = pdf.copy()
            out["cell"] = cid[np.argmin(d, axis=1)]
            yield out

    return embeddings.mapInPandas(kernel, f"{fields}, cell long")


def _probe_cells(
    embeddings: DataFrame,
    cents: DataFrame,
    query_ids: list[int],
    n_probe: int,
) -> DataFrame:
    """Per-QUERY top-n_probe cells -> (query_id, cell). The query side
    is |query_ids| rows, so a broadcast crossJoin + rank window here is
    query-sized (not corpus-sized) at any scale; _sq_l2 keeps the exact
    sequential-FP sum the DuckDB oracle computes for probe ranking."""
    qdist = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .crossJoin(F.broadcast(cents))
        .withColumn("d", _sq_l2("embedding", "cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cell")
    return (
        qdist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )


def _sq_l2(a: str, b: str):
    """Squared euclidean distance of two float arrays (float64, JVM)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = IVF_N_PROBE,
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: -> (query_id, rank, vec_id, cos).

    The scale path for similarity SEARCH (lsh_nearest_pairs covers
    all-pairs): vectors are partitioned into cells by nearest centroid;
    a query probes only its n_probe nearest cells and scores exact
    cosine inside them — the corpus scan shrinks by ~n_probe/n_cells.

    Centroids here are SAMPLED rows (vec_id in centroid_ids) — a
    standard k-means init — so the DuckDB oracle reproduces the cell
    assignment from the same table with no trained state. Corpus
    assignment is the broadcast-matrix mapInPandas argmin
    (_assign_cells — one narrow matmul pass, no N x n_cells blowup);
    only the query-sized probe ranking uses a crossJoin + window.

    Determinism: assignment/probe rank on (squared L2, cell id);
    output cosine rounded 4dp, ties on vec_id asc.
    """
    cids = centroid_ids or DEFAULT_CENTROID_IDS
    cents = embeddings.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    assign = _assign_cells(embeddings, cents).select(
        "vec_id", "cell", "embedding"
    )
    qprobe = _probe_cells(embeddings, cents, query_ids, n_probe)
    qe = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    sc = (
        qprobe.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qe), "query_id")
        .withColumn("cos", F.round(cosine_expr("qe", "embedding"), 4))
        .select("query_id", "vec_id", "cos")
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        sc.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def train_centroids_kmeans(
    embeddings: DataFrame,
    init_ids: list[int],
    iters: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Distributed Lloyd's refinement of sampled centroids.

    Each iteration: assign by nearest centroid (broadcast centroid
    matrix + mapInPandas argmin — a narrow pass, see _assign_cells),
    then per-cell per-dim mean via posexplode + hash agg — ONE shuffle
    per iteration, no corpus-sized driver data (each round collects
    only the n_cells centroid rows to rebroadcast). Returns
    (cell, cvec). Deterministic for a fixed input + init."""
    cents = embeddings.filter(F.col("vec_id").isin(init_ids)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    for _ in range(iters):
        assign = _assign_cells(embeddings, cents).select(
            "cell", "embedding"
        )
        cents = (
            assign.select(
                "cell", F.posexplode("embedding").alias("i", "v")
            )
            .groupBy("cell", "i")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("i", "m"))
                ).alias("parts")
            )
            .select(
                "cell",
                F.transform(
                    "parts", lambda s: s["m"].cast("float")
                ).alias("cvec"),
            )
        )
    return cents


def lsh_nearest_pairs(
    embeddings: DataFrame,
    top_pairs: int = 20,
    dim: int = 64,
    n_hyperplanes: int = N_HYPERPLANES,
) -> DataFrame:
    """-> top `top_pairs` same-bucket pairs by cosine desc.

    (bucket, vec_a, vec_b, cos): the LSH-confined all-pairs similarity.
    Deterministic: cosine rounded 4dp, ties break (vec_a, vec_b) asc.
    Default n_hyperplanes=4 matches the pinned oracle; at scale pass
    auto_hyperplanes(n) so buckets stay ~constant-size. The global
    top-pairs finish is orderBy().limit() (TakeOrderedAndProject — each
    partition keeps `top_pairs` rows, the driver merges), never a
    single-partition window over all pairs.
    """
    hp = hyperplanes(dim, n_hyperplanes)
    e = embeddings.select(
        "vec_id", "embedding", bucket_signature_expr(hp).alias("bucket")
    )
    a = e.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
    )
    b = e.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    pairs = (
        a.join(b, F.col("bucket") == F.col("bucket_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(cosine_expr("ea", "eb"), 4))
        .select("bucket", "vec_a", "vec_b", "cos")
    )
    top = pairs.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b")).limit(
        top_pairs
    )
    # rank window runs over <= top_pairs rows only (post-limit), so the
    # single-partition sort it implies is trivially bounded
    w = Window.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "bucket", "vec_a", "vec_b", "cos")
    )


def semdedup(
    embeddings: DataFrame,
    centroid_ids: list[int] | None = None,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning in embedding space. Vectors are clustered by
    nearest centroid (same sampled-centroid assignment as ivf_topk —
    k-means init the oracle can reproduce); within each cluster a
    vector is DROPPED iff some LOWER-id cluster-mate has cosine >=
    threshold (the deterministic greedy keeper used across this repo's
    dedup family; the paper keeps the vector farthest from the
    centroid — any one-per-group rule works).
    -> (vec_id, cell, keep boolean).

    Scale shape: assignment is the broadcast-centroid-matrix
    mapInPandas argmin (_assign_cells — one narrow matmul pass); the
    intra-cluster pair check joins on cell — quadratic only WITHIN a
    cluster, which is the SemDeDup algorithm itself (k grows with N to
    bound cluster size; the paper uses k=50k for 5B points). At real
    scale swap the pair join for a per-cell applyInPandas normalized
    matmul; semantics unchanged. Threshold 0.35 is fixture-calibrated:
    the synthetic uniform embeddings never reach the ~0.95 real-text
    embeddings exhibit.
    """
    cids = centroid_ids or DEFAULT_CENTROID_IDS
    cents = embeddings.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    assign = _assign_cells(embeddings, cents).select(
        "vec_id", "cell", "embedding"
    )
    a = assign.select(
        "cell", F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = assign.select(
        "cell", F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("va") > F.col("vb"))
        .withColumn("cos", F.round(cosine_expr("ea", "eb"), 4))
        .filter(F.col("cos") >= threshold)
        .select(F.col("va").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        assign.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("_drop").isNull().alias("keep"),
        )
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    max_broadcast_vectors: int = 1_000_000,
) -> DataFrame:
    """Exact cosine k-NN GRAPH over the whole vector table —
    (src, rank, dst, cos) with k rows per src, self-edges excluded,
    ties on the 4dp-rounded cosine breaking dst asc. The graph is the
    building block HNSW constructs incrementally; batch pipelines
    (SemDeDup clustering, diversity sampling, label propagation) want
    it materialized as a table, which a distributed matmul builds
    directly — see the HNSW position note in SURVEY §6.

    Shape: the src side broadcasts as ONE normalized query matrix in
    the task closure (N x d doubles — fine to the ~10^6-vector range);
    each candidate partition runs a single (N x d) @ (d x b) BLAS
    matmul and emits only its local top-k per src (rounded-score,
    dst-asc selection, so a tie at the global k-th boundary can never
    be dropped locally); the only exchange carries
    O(partitions x N x k) rows into the per-src rank window. Beyond
    broadcastable N, use knn_graph_ivf (cell-local matmuls).

    COUNT-GATED: the exact algorithm needs every vector as a query, so
    the query matrix is inherently corpus-sized; above
    `max_broadcast_vectors` this function raises (before collecting
    anything to the driver) and points at knn_graph_ivf rather than
    OOM-ing the driver on a 10^9-row table.
    """
    n = embeddings.count()
    if n > max_broadcast_vectors:
        raise ValueError(
            f"knn_graph (exact) would broadcast {n} vectors as the "
            f"driver-side query matrix (cap {max_broadcast_vectors}); "
            "use knn_graph_ivf for corpora beyond the broadcastable "
            "range, or raise max_broadcast_vectors explicitly"
        )
    rows = (
        embeddings.select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    qids = rows["vec_id"].to_numpy(np.int64)
    Q = np.array(list(rows["embedding"]), dtype=np.float64)
    Qn = Q / _safe_norm(Q)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            order_ids = np.argsort(ids)  # id-asc columns => stable
            ids = ids[order_ids]         # argsort ties pick lower dst
            V = np.array(list(pdf["embedding"]), dtype=np.float64)[order_ids]
            Vn = V / _safe_norm(V)
            cos = Qn @ Vn.T  # (N, b)
            cos[qids[:, None] == ids[None, :]] = -np.inf  # self
            # SELECT on the global criterion (4dp-rounded desc, dst
            # asc — stable argsort over id-asc columns) so a tie at
            # the k-th rounded score is never dropped locally; EMIT
            # raw. Half-up rounding (floor(x*1e4+0.5), wand.py's
            # convention) matches the JVM F.round(HALF_UP) the global
            # window ranks by — np.round's half-even would disagree at
            # exact .00005 boundaries, the tie case this guards.
            sel = np.floor(cos * 1e4 + 0.5)
            kk = min(k, cos.shape[1])
            top = np.argsort(-sel, axis=1, kind="stable")[:, :kk]
            vals = np.take_along_axis(cos, top, axis=1).ravel()
            keep = vals > -np.inf
            yield pd.DataFrame(
                {
                    "src": np.repeat(qids, kk)[keep],
                    "dst": ids[top.ravel()][keep],
                    "cos": vals[keep],
                }
            )

    local = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "src long, dst long, cos double"
    )
    s = local.withColumn("cos", F.round("cos", 4))
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("src", "rank", "dst", "cos")
    )


def knn_graph_ivf(
    embeddings: DataFrame,
    k: int = 5,
    centroid_ids: list[int] | None = None,
    n_probe: int = IVF_N_PROBE,
) -> DataFrame:
    """Approximate k-NN graph via IVF cells — the 10^9-vector path
    knn_graph's docstring points to. Every vector probes its
    `n_probe` nearest cells (top-n_probe emitted by the SAME
    broadcast-centroid mapInPandas matmul that assigns cells — no
    corpus-sized rank window); candidates are the members of probed
    cells; each cell group runs ONE local probers x members matmul
    (applyInPandas keyed on cell) and emits local top-k per src; the
    global per-src rank window merges O(n_probe x k) rows per vector.

    -> (src, rank, dst, cos), k rows per src max (fewer when the
    probed cells hold < k other vectors — the recall trade IVF makes).
    """
    cids = centroid_ids or DEFAULT_CENTROID_IDS
    cents = embeddings.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    crows = sorted(
        cents.select("cell", "cvec").collect(), key=lambda r: r["cell"]
    )
    cid = np.array([r["cell"] for r in crows], dtype=np.int64)
    C = np.array([r["cvec"] for r in crows], dtype=np.float64)
    csq = (C * C).sum(axis=1)
    npb = min(n_probe, len(cid))

    def probe_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + csq[None, :]
            # top-n_probe cells, distance asc / cell-id asc ties: the
            # cid array is sorted, so a stable argsort on d suffices
            top = np.argsort(d, axis=1, kind="stable")[:, :npb]
            out = pdf[["vec_id", "embedding"]].copy()
            out["cell0"] = cid[top[:, 0]]  # rn=1 == the assignment
            out["probes"] = list(cid[top])
            yield out

    probed = embeddings.select("vec_id", "embedding").mapInPandas(
        probe_kernel,
        "vec_id long, embedding array<float>, cell0 long, "
        "probes array<long>",
    )
    members = probed.select(
        F.lit("m").alias("role"), "vec_id", "embedding",
        F.col("cell0").alias("cell"),
    )
    probers = probed.select(
        F.lit("p").alias("role"), "vec_id", "embedding",
        F.explode("probes").alias("cell"),
    )
    both = members.unionByName(probers)

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf[pdf["role"] == "p"].sort_values("vec_id")
        m = pdf[pdf["role"] == "m"].sort_values("vec_id")
        if not len(p) or not len(m):
            return pd.DataFrame({"src": [], "dst": [], "cos": []}).astype(
                {"src": "int64", "dst": "int64", "cos": "float64"}
            )
        P = np.array(list(p["embedding"]), dtype=np.float64)
        M = np.array(list(m["embedding"]), dtype=np.float64)
        pid = p["vec_id"].to_numpy(np.int64)
        mid = m["vec_id"].to_numpy(np.int64)
        cos = (P / _safe_norm(P)) @ (M / _safe_norm(M)).T
        cos[pid[:, None] == mid[None, :]] = -np.inf
        # same select-rounded/emit-raw contract; half-up to match F.round
        sel = np.floor(cos * 1e4 + 0.5)
        kk = min(k, cos.shape[1])
        top = np.argsort(-sel, axis=1, kind="stable")[:, :kk]
        vals = np.take_along_axis(cos, top, axis=1).ravel()
        keep = vals > -np.inf
        return pd.DataFrame(
            {
                "src": np.repeat(pid, kk)[keep],
                "dst": mid[top.ravel()][keep],
                "cos": vals[keep],
            }
        )

    local = both.groupBy("cell").applyInPandas(
        cell_kernel, "src long, dst long, cos double"
    )
    # (src, dst) pairs are already unique — a dst's member row lives in
    # exactly one cell — so the only exchange left is the rank window
    s = local.withColumn("cos", F.round("cos", 4))
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    return (
        s.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("src", "rank", "dst", "cos")
    )


def rrf_hybrid(
    doc_table: DataFrame,
    query_terms: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    window: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """ES hybrid retrieval with Reciprocal Rank Fusion (the `rrf`
    retriever): the SAME query runs as lexical BM25 and as dense cosine
    kNN (query vector = the embedding whose vec_id equals the query_id,
    doc embeddings keyed vec_id == doc_id), each producing a
    rank-window of `window` candidates, fused as

        rrf(d) = sum over retrievers ranking d:  1 / (rrf_k + rank_d)

    (Cormack et al. 2009, the published constant rrf_k=60). A doc
    ranked by only one retriever gets only that term — exactly ES's
    rank_window_size semantics.

    Plan shape: both inputs are already top-`window` per query (tiny),
    so the fusion is a full-outer hash join of two k-row-per-query
    frames + codegen arithmetic + per-query window top-k. The heavy
    lifting stays in the two retrievers' scale-shaped plans.
    """
    from mario_spark.query import search_exhaustive

    lex = (
        search_exhaustive(doc_table, query_terms, k=window)
        .select("query_id", "doc_id", F.col("rank").alias("lrank"))
    )
    den = (
        brute_topk(embeddings, query_ids, k=window)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("drank"),
        )
    )
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (F.lit(float(rrf_k)) + F.col("lrank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(float(rrf_k)) + F.col("drank")), F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "rrf")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    window: int = 50,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor
    vector, the nearest neighbors whose LABEL differs from the
    anchor's — the negatives that look most like positives, which is
    what an embedding-model trainer wants in the batch (e.g. DPR,
    Karpukhin et al. 2020). Returns (query_id, rank, vec_id, cos) with
    rank over the filtered (different-label) candidates.

    Plan shape: one brute cosine pass over a rank window of `window`
    (so the label filter can't starve k), then a broadcast join of the
    tiny anchor-label dim and a per-anchor re-rank window. At scale the
    window pass is the same BLAS-batched kernel as brute_topk; the
    label join touches only window x |anchors| rows.
    """
    spark = embeddings.sparkSession
    anchors = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    )
    near = brute_topk(embeddings, query_ids, k=window)
    labeled = near.join(
        embeddings.select("vec_id", "label"), "vec_id"
    ).join(F.broadcast(anchors), "query_id")
    negs = labeled.filter(F.col("label") != F.col("qlabel"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        negs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def linear_hybrid(
    doc_table: DataFrame,
    query_terms: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    w_lex: float = 0.7,
    w_dense: float = 0.3,
    k: int = 10,
    window: int = 20,
) -> DataFrame:
    """ES `linear` retriever (8.16+): weighted sum of PER-QUERY min-max
    normalized retriever scores over rank windows —

        score(d) = w_lex * norm(bm25) + w_dense * norm(cos)

    where norm(x) = (x - min) / (max - min) within the query's window
    (ES's `minmax` normalizer; a single-hit window or constant scores
    normalize to 1.0 by convention, both engines pinned). A doc absent
    from one retriever's window contributes 0 from that side.

    Same fusion plan shape as rrf_hybrid: two already-top-k frames,
    per-query 1-row min/max dims broadcast back, full-outer join,
    codegen arithmetic, per-query top-k window.
    """
    from mario_spark.query import search_exhaustive

    def _norm(df: DataFrame, score_col: str) -> DataFrame:
        mm = df.groupBy("query_id").agg(
            F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
        )
        return (
            df.join(F.broadcast(mm), "query_id")
            .withColumn(
                "nscore",
                F.when(F.col("hi") == F.col("lo"), F.lit(1.0)).otherwise(
                    (F.col(score_col) - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                ),
            )
            .select("query_id", "doc_id", "nscore")
        )

    lex = _norm(
        search_exhaustive(doc_table, query_terms, k=window), "score"
    ).withColumnRenamed("nscore", "ln")
    den = _norm(
        brute_topk(embeddings, query_ids, k=window)
        .select("query_id", F.col("vec_id").alias("doc_id"), "cos"),
        "cos",
    ).withColumnRenamed("nscore", "dn")
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "score",
            F.round(
                F.lit(float(w_lex)) * F.coalesce("ln", F.lit(0.0))
                + F.lit(float(w_dense)) * F.coalesce("dn", F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


# --- Product Quantization (Jégou et al. 2011): the 100TB vector path.
# 64-dim vectors -> PQ_M sub-spaces x 1 byte each = 8 bytes/vector
# (32x compression vs float32), queried via asymmetric distance
# computation (ADC): a per-query (M x KS) lookup table replaces all
# float math per candidate. Codebooks here are the sub-vectors of the
# pinned sample ids (the deterministic stand-in for k-means-trained
# codebooks — train_centroids_kmeans shows the trained variant; the
# encode/ADC machinery is identical either way).
PQ_M = 8
PQ_KS = 16
PQ_DSUB = 8  # 64 / PQ_M
PQ_SAMPLE_IDS = list(range(PQ_KS))


def _pq_codebook(embeddings: DataFrame) -> np.ndarray:
    """-> (M, KS, DSUB) float64 codebook from the pinned sample rows."""
    rows = (
        embeddings.filter(F.col("vec_id").isin(PQ_SAMPLE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    S = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # (KS, M, DSUB) -> (M, KS, DSUB)
    return S.reshape(PQ_KS, PQ_M, PQ_DSUB).transpose(1, 0, 2)


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, codes array<int>): per
    sub-space argmin codeword (ties -> lower code). Arrow-batched
    kernel, codebook rides the task closure (tiny), input partitioning
    preserved — at 100TB this is the one full pass that turns the
    vector corpus into an 8-byte-per-row table."""
    cb = _pq_codebook(embeddings)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            Vs = V.reshape(len(V), PQ_M, PQ_DSUB)
            codes = np.empty((len(V), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                # (n, KS): squared L2 to each codeword
                d = ((Vs[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = np.argmin(d, axis=1)  # first min = low code
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "codes": list(codes),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, codes array<int>"
    )


def pq_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """PQ/ADC approximate top-k: per query build the (M x KS) distance
    table, score every encoded vector as the table-sum of its codes.
    Distances are accumulated as round(td * 1e6) INTEGERS so the sum
    is exact and order-free — bit-identical across engines (the oracle
    mirrors the same scaling). Returns (query_id, rank, vec_id, adist)
    with adist = scaled sum / 1e6; ranks break ties on vec_id.
    """
    cb = _pq_codebook(embeddings)
    qrows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), PQ_M, PQ_DSUB
    )
    # (q, M, KS) integer-scaled ADC tables
    tabs = np.empty((len(qids), PQ_M, PQ_KS), dtype=np.int64)
    for m in range(PQ_M):
        td = ((Q[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
        tabs[:, m, :] = np.floor(td * 1e6 + 0.5).astype(np.int64)

    enc = pq_encode(embeddings)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, M)
            ids = pdf["vec_id"].to_numpy(np.int64)
            out_q, out_v, out_d = [], [], []
            m_idx = np.arange(PQ_M)
            for qi in range(len(qids)):
                scaled = tabs[qi][m_idx[None, :], C].sum(axis=1)  # (n,)
                mask = ids != qids[qi]
                sm, im = scaled[mask], ids[mask]
                order = np.lexsort((im, sm))[:k]
                out_q.append(np.full(order.size, qids[qi], dtype=np.int64))
                out_v.append(im[order])
                out_d.append(sm[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "scaled": np.concatenate(out_d),
                }
            )

    local = enc.mapInPandas(
        kernel, "query_id long, vec_id long, scaled long"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("scaled"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "vec_id",
            F.round(F.col("scaled") / 1e6, 6).alias("adist"),
        )
    )


def _int8_stats(embeddings: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) over the corpus — ES computes these
    per segment when quantizing dense_vectors to int8."""
    aggs = []
    for i in range(1, 65):
        el = F.element_at("embedding", i).cast("double")
        aggs += [F.min(el).alias(f"mn{i}"), F.max(el).alias(f"mx{i}")]
    r = embeddings.agg(*aggs).collect()[0]
    mn = np.array([r[f"mn{i}"] for i in range(1, 65)])
    mx = np.array([r[f"mx{i}"] for i in range(1, 65)])
    return mn, mx


def int8_rescore_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    window: int = 30,
) -> DataFrame:
    """ES int8-quantized kNN with float rescore (the `quantized
    rescore` serving shape of dense_vector index_options): vectors are
    linearly quantized per dimension to 0..127; the candidate pass
    ranks by the INTEGER weighted squared distance

        d(a, b) = sum_i (qa_i - qb_i)^2 * W_i,
        W_i = round(scale_i^2 * 1e8),  scale_i = (max_i - min_i) / 127

    (all-integer accumulation -> order-free, bit-identical to the
    oracle), then the top-`window` candidates are re-ranked by EXACT
    cosine — quantization decides the candidate set, floats decide the
    final order, exactly ES. Returns (query_id, rank, vec_id, cos).
    """
    mn, mx = _int8_stats(embeddings)
    rng = np.where(mx > mn, mx - mn, 1.0)
    W = np.floor((rng / 127.0) ** 2 * 1e8 + 0.5).astype(np.int64)

    def quant(V: np.ndarray) -> np.ndarray:
        return np.floor(
            (V - mn[None, :]) * 127.0 / rng[None, :] + 0.5
        ).astype(np.int64)

    qrows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Qq = quant(np.array([r["embedding"] for r in qrows], dtype=np.float64))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(np.int64)
            Vq = quant(V)
            out_q, out_v, out_d = [], [], []
            for qi in range(len(qids)):
                d = (((Vq - Qq[qi][None, :]) ** 2) * W[None, :]).sum(1)
                mask = ids != qids[qi]
                dm, im = d[mask], ids[mask]
                order = np.lexsort((im, dm))[:window]
                out_q.append(np.full(order.size, qids[qi], dtype=np.int64))
                out_v.append(im[order])
                out_d.append(dm[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "iscore": np.concatenate(out_d),
                }
            )

    local = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, iscore long"
    )
    wnd = Window.partitionBy("query_id").orderBy(
        F.asc("iscore"), F.asc("vec_id")
    )
    cand = (
        local.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= window)
        .select("query_id", "vec_id")
    )
    qv = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    rescored = (
        cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine_expr("qe", "embedding"), 4))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = IVF_N_PROBE,
    window: int = 30,
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """FAISS-style IVFPQ + refine — the composed 100TB serving path:
    (1) IVF: probe the n_probe nearest cells only; (2) PQ/ADC: rank
    the probed cells' vectors by the integer ADC distance over their
    8-byte codes (no float vector is touched); (3) refine: exact
    cosine on the top-`window` survivors. Scan cost ~ n_probe/n_cells
    of the corpus, and of that only codes (8 B/vec) until the final
    `window` rows.

    The ADC scoring is RELATIONAL here: the per-query (m, code)
    distance table is a 640-row broadcast dim joined onto the exploded
    code stream and summed in one integer hash agg — the same plan
    shape at any corpus size, with integer accumulation keeping the
    oracle comparison order-free.
    """
    spark = embeddings.sparkSession
    cids = centroid_ids or DEFAULT_CENTROID_IDS
    cents = embeddings.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    assign = _assign_cells(embeddings, cents).select("vec_id", "cell")
    qprobe = _probe_cells(embeddings, cents, query_ids, n_probe)
    # per-query integer ADC tables as a broadcast dim
    cb = _pq_codebook(embeddings)
    qrows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    tab_rows = []
    for r in qrows:
        Qs = np.array(r["embedding"], dtype=np.float64).reshape(
            PQ_M, PQ_DSUB
        )
        for m in range(PQ_M):
            td = ((Qs[m][None, :] - cb[m]) ** 2).sum(-1)
            for code, t in enumerate(np.floor(td * 1e6 + 0.5).astype(np.int64)):
                tab_rows.append((int(r["vec_id"]), m, code, int(t)))
    tab = spark.createDataFrame(
        tab_rows, "query_id long, m int, code int, td long"
    )
    codes = pq_encode(embeddings).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    adc = (
        qprobe.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(codes, "vec_id")
        .join(F.broadcast(tab), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("td").alias("scaled"))
    )
    wnd = Window.partitionBy("query_id").orderBy(
        F.asc("scaled"), F.asc("vec_id")
    )
    cand = (
        adc.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= window)
        .select("query_id", "vec_id")
    )
    qv = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    res = (
        cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine_expr("qe", "embedding"), 4))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        res.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def bitsig_sql(vec_col: str, dims: int = 64, dialect: str = "spark") -> str:
    """Generated SQL: sign-bit binarization of a float vector into a
    16-hex signature — ES dense_vector element_type=bit (8.14): each
    dimension contributes one bit (value > 0), 32x smaller than float32
    and compared by hamming distance. The SAME generator emits the
    Spark expression and the DuckDB oracle (only array indexing
    differs), so both engines produce bit-identical signatures in pure
    codegen."""
    assert dims == 64, "16-hex signature covers exactly 64 dims"
    outs = []
    for p in range(16):
        bits = []
        for b in range(4):
            i = 4 * p + b + 1
            el = (
                f"element_at({vec_col}, {i})"
                if dialect == "spark"
                else f"{vec_col}[{i}]"
            )
            bits.append(f"(case when {el} > 0 then {1 << b} else 0 end)")
        outs.append(
            f"substr('0123456789abcdef', ({' + '.join(bits)}) + 1, 1)"
        )
    return "concat(" + ", ".join(outs) + ")"


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a uint64 array (any shape)."""
    if hasattr(np, "bitwise_count"):  # numpy >= 2.0
        return np.bitwise_count(x).astype(np.int64)
    b = np.unpackbits(
        np.ascontiguousarray(x).view(np.uint8).reshape(*x.shape, 8), axis=-1
    )
    return b.sum(axis=-1, dtype=np.int64)


def _bit_hamming_local(
    embeddings: DataFrame, query_ids: list[int], k: int
) -> DataFrame:
    """Per-partition hamming top-k -> (query_id, vec_id, hamming),
    <= k rows per query per ARROW BATCH (so <= k x batches-per-
    partition x |queries| per partition; the batch-local cap is what
    bounds the downstream exchange). Signatures are computed from the
    floats in codegen (bitsig_sql); the query signatures ride the task
    closure; hamming is a vectorized XOR+popcount per batch."""
    sig = F.expr(bitsig_sql("embedding", dialect="spark"))
    s = embeddings.select("vec_id", sig.alias("sig"))
    qrows = s.filter(F.col("vec_id").isin(query_ids)).collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qsig = np.array([int(r["sig"], 16) for r in qrows], dtype=np.uint64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            sigs = np.array(
                [int(x, 16) for x in pdf["sig"]], dtype=np.uint64
            )
            ham = _popcount64(qsig[:, None] ^ sigs[None, :])  # (q, n)
            out_q, out_v, out_h = [], [], []
            for qi in range(len(qids)):
                mask = ids != qids[qi]
                hm, im = ham[qi][mask], ids[mask]
                # local top-k: hamming asc, vec_id asc
                order = np.lexsort((im, hm))[:k]
                out_q.append(np.full(order.size, qids[qi], dtype=np.int64))
                out_v.append(im[order])
                out_h.append(hm[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "hamming": np.concatenate(out_h),
                }
            )

    return s.mapInPandas(kernel, "query_id long, vec_id long, hamming long")


def bit_hamming_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """-> (query_id, rank, vec_id, hamming): exact hamming top-k over
    bit-quantized vectors (ES knn on element_type=bit). Self-matches
    excluded; ties break on vec_id asc.

    100TB shape: signatures are 8 bytes/vector, computed from the
    floats once in codegen; each partition pre-selects its local top-k
    per query (_bit_hamming_local), so the only exchange — the final
    rank window — carries O(n_partitions x |queries| x k) rows, never
    the corpus. (The former shape — broadcast NLJ + corpus-sized
    per-query window — shuffled all N rows into one partition per
    query.)"""
    local = _bit_hamming_local(embeddings, query_ids, k)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "hamming")
    )


def _cos64_expr(a: str, b: str) -> "F.Column":
    """Exact cosine of two 64-dim float arrays as ONE codegen
    expression, mirroring the oracle's normalize-then-dot form term by
    term (ascending i) so the two engines agree bitwise."""
    sa = (
        f"sqrt(aggregate({a}, 0D, (acc, x) -> "
        f"acc + cast(x as double) * cast(x as double)))"
    )
    sb = (
        f"sqrt(aggregate({b}, 0D, (acc, x) -> "
        f"acc + cast(x as double) * cast(x as double)))"
    )
    return F.expr(
        f"aggregate(sequence(1, 64), 0D, (acc, i) -> acc + "
        f"(cast(element_at({a}, i) as double) / {sa}) * "
        f"(cast(element_at({b}, i) as double) / {sb}))"
    )


def bit_rescore_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    window: int = 30,
) -> DataFrame:
    """ES bit-vector serving shape: hamming over 8-byte sign
    signatures picks the top-`window` candidates, exact float cosine
    re-ranks them to top-k — bits decide the candidate set, floats
    decide the order (the same two-phase contract as int8_rescore).
    Returns (query_id, rank, vec_id, cos). The rescore join touches
    only window*|queries| rows, so full vectors are read for a
    vanishing fraction of the corpus."""
    cand = bit_hamming_topk(embeddings, query_ids, k=window).select(
        "query_id", "vec_id"
    )
    qv = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    j = (
        cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(_cos64_expr("qe", "embedding"), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


# ---------------------------------------------------------------------------
# Late interaction (ColBERT maxSim / ES rank_vectors)
# ---------------------------------------------------------------------------

MAXSIM_QUERY_DOCS = [0, 7, 21]
MAXSIM_GROUP = 4


def _unit_cos_expr(a: str, b: str):
    """Cosine as a dot of unit-normalized components — the exact FP
    order the DuckDB oracle uses (sum_i (a_i/|a|)*(b_i/|b|)), so both
    engines agree at the 6-dp rounding applied before max/sum."""
    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    na, nb = _norm(F.col(a)), _norm(F.col(b))
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") / na) * (y.cast("double") / nb),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def maxsim_topk(
    embeddings: DataFrame,
    query_docs: list[int] | None = None,
    group_size: int = MAXSIM_GROUP,
    k: int = 5,
) -> DataFrame:
    """Late-interaction retrieval (ColBERT; ES `rank_vectors` maxSim):
    each document is a BAG of token vectors and
    score(q, d) = sum over q's tokens of the max cosine against d's
    tokens. Multi-vector docs are constructed deterministically from
    the flat embeddings table: mdoc = vec_id // group_size (the same
    derived-structure convention as doc dates and TLV payloads).

    Plan shape — the late-interaction scale story: the query side is a
    handful of token vectors BROADCAST into a nested-loop join against
    ONE scan of the corpus vectors; the two reductions (per-query-token
    max, then per-doc sum) are ordinary partial+final hash aggs keyed
    on (qdoc, mdoc[, qtok]). Nothing shuffles full vectors except the
    corpus scan itself; at 100TB you front this with an ANN candidate
    stage (ann.ivf_topk) and maxSim only the window, exactly like ES's
    rescore-over-kNN pattern.
    """
    qd = list(query_docs) if query_docs is not None else MAXSIM_QUERY_DOCS
    e = embeddings.select(
        F.floor(F.col("vec_id") / group_size).cast("long").alias("mdoc"),
        F.col("vec_id").alias("tok"),
        "embedding",
    )
    q = e.filter(F.col("mdoc").isin(qd)).select(
        F.col("mdoc").alias("qdoc"),
        F.col("tok").alias("qtok"),
        F.col("embedding").alias("qe"),
    )
    pairs = e.join(F.broadcast(q), F.col("mdoc") != F.col("qdoc"))
    per_qtok = pairs.withColumn(
        "cos", F.round(_unit_cos_expr("qe", "embedding"), 6)
    ).groupBy("qdoc", "mdoc", "qtok").agg(F.max("cos").alias("mx"))
    scored = per_qtok.groupBy("qdoc", "mdoc").agg(
        F.round(F.sum("mx"), 4).alias("score")
    )
    w = Window.partitionBy("qdoc").orderBy(F.desc("score"), F.asc("mdoc"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qdoc").alias("query_id"),
            "rank",
            F.col("mdoc").alias("doc_id"),
            "score",
        )
    )


AUDIT_PROBE_LEVELS = (1, 2, 4, 8)


def ivf_recall_audit(
    embeddings: DataFrame,
    probe_levels: tuple[int, ...] = AUDIT_PROBE_LEVELS,
    query_ids: list[int] | None = None,
    centroid_ids: list[int] | None = None,
    k_graph: int = 5,
    k_topk: int = 10,
) -> DataFrame:
    """Measure-don't-guess audit of the IVF approximation (the ANN
    mirror of dedup.lsh_audit): recall of `knn_graph_ivf` and
    `ivf_topk` against their exact twins (`knn_graph`, `brute_topk`)
    at each probe level -> one row per (family, n_probe):

        (family 'graph'|'topk', n_probe, n_true, n_hit, recall)

    recall = |approx edges ∩ exact edges| / |exact edges| with the
    engines' own deterministic tie-breaks (4dp cosine desc, id asc),
    so the curve is exactly reproducible — the published number that
    tells an operator which n_probe clears their recall floor.
    n_probe = n_cells probes everything, so the curve's endpoint is
    1.0 by construction. Honest caveat the measurement forces: the
    sandbox corpus is UNIFORM random vectors — IVF's worst case (no
    cluster structure, so neighbors scatter across cells: measured
    0.25/0.41/0.69/1.0 at 1/2/4/8 probes of 8 cells) — which is
    precisely why this audit exists: the ≥0.9 probe level is a
    per-corpus measurement, not a transferable constant.

    Scale contract: ground truth is the exact twin, so the audit is
    inherently bounded by knn_graph's broadcast count gate — at 10^9
    vectors you run it on a sampled slice, exactly like the LSH audit
    (sample-bounded by design; an exact all-pairs truth at full corpus
    scale does not exist anywhere).
    """
    qids = query_ids or [0, 1, 2, 3, 4]
    exact_g = knn_graph(embeddings, k=k_graph).select("src", "dst").persist()
    exact_t = (
        brute_topk(embeddings, qids, k=k_topk)
        .select(F.col("query_id").alias("src"), F.col("vec_id").alias("dst"))
        .persist()
    )
    out = None
    for p in probe_levels:
        approx = {
            "graph": knn_graph_ivf(
                embeddings, k=k_graph, centroid_ids=centroid_ids, n_probe=p
            ).select("src", "dst"),
            "topk": ivf_topk(
                embeddings, qids, k=k_topk,
                n_probe=p, centroid_ids=centroid_ids,
            ).select(
                F.col("query_id").alias("src"), F.col("vec_id").alias("dst")
            ),
        }
        for fam, exact in (("graph", exact_g), ("topk", exact_t)):
            j = exact.join(
                approx[fam].withColumn("_c", F.lit(1)), ["src", "dst"], "left"
            )
            row = (
                j.agg(
                    F.count("*").cast("long").alias("n_true"),
                    F.sum(F.coalesce(F.col("_c"), F.lit(0)))
                    .cast("long")
                    .alias("n_hit"),
                )
                .select(
                    F.lit(fam).alias("family"),
                    F.lit(p).cast("long").alias("n_probe"),
                    "n_true",
                    "n_hit",
                    F.round(F.col("n_hit") / F.col("n_true"), 4).alias(
                        "recall"
                    ),
                )
            )
            out = row if out is None else out.unionByName(row)
    # 2 rows per probe level: collect them so both cached exact twins
    # are released before returning, and hand back a local relation
    rows = out.orderBy("family", "n_probe").collect()
    exact_g.unpersist()
    exact_t.unpersist()
    return embeddings.sparkSession.createDataFrame(rows, out.schema)
