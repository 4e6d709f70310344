"""Approximate-nearest-neighbor search over an embedding column
(``array<float>``).

- ``brute_force_topk``: exact baseline — broadcast the (small) query
  set, cosine per pair in one vectorized pass per Arrow batch
  (``batch_cosine_udf``), per-query top-k by window. Linear in
  candidates; the right choice when queries are few.
- ``lsh_topk``: scale path — random-hyperplane LSH: deterministic
  hyperplanes (seeded numpy, broadcast as literals), bucket on the sign
  signature, rerank only same-bucket candidates. At 10^12 rows the
  bucket join replaces the full scan per query; recall is tuned by
  n_planes (fewer planes → bigger buckets → higher recall/cost).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _leftfold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot with SEQUENTIAL (left-fold) float64 accumulation —
    np.cumsum computes each running total in order, so the result is
    bit-identical to the pure-Python fixture oracle
    (tools/make_fixtures.py fold_dot).
    np.dot/np.matmul would be faster still but sum PAIRWISE, which
    diverges in the last bits and can flip a round(,6) tie."""
    return np.cumsum(A * B, axis=1)[:, -1]


def _vec_rows(series: pd.Series):
    """Per-row float64 arrays + validity mask. None / non-1-d / empty
    entries are invalid (arrs[i] is None). Keeps the vectorized kernels
    from crashing the whole task on one null or ragged embedding: such
    rows come out null."""
    arrs, valid = [], []
    for x in series:
        if x is None:
            arrs.append(None)
            valid.append(False)
            continue
        a = np.asarray(x, dtype=np.float64)
        if a.ndim != 1 or a.size == 0:
            arrs.append(None)
            valid.append(False)
        else:
            arrs.append(a)
            valid.append(True)
    return arrs, np.asarray(valid, dtype=bool)


def _with_nulls(out: np.ndarray, valid: np.ndarray) -> pd.Series:
    """float64 results → Series, invalid rows as real nulls (not NaN —
    Spark sorts NaN above every number, so a crashed row would rank
    FIRST in a desc top-k; null sorts last). Fast path: all-valid
    batches stay a plain float64 Series."""
    res = pd.Series(out)
    if not valid.all():
        res = res.astype(object)
        res[~valid] = None
    return res


def batch_cosine_udf():
    """pandas_udf: (q_vec, cand_vec) → cosine, one vectorized numpy pass
    per Arrow batch, in every ANN rerank path; left-fold semantics
    preserved bit-for-bit via ``_leftfold_dot``. Null/ragged pairs
    yield null instead of failing the task; valid rows are grouped by
    dimensionality so one odd-length vector cannot break the stack."""

    @F.pandas_udf(T.DoubleType())
    def cos(q: pd.Series, c: pd.Series) -> pd.Series:
        n = len(q)
        if n == 0:
            return pd.Series([], dtype="float64")
        qa, qv = _vec_rows(q)
        ca, cv = _vec_rows(c)
        valid = qv & cv
        groups: dict[int, list[int]] = {}
        for i in range(n):
            if valid[i] and qa[i].shape == ca[i].shape:
                groups.setdefault(qa[i].shape[0], []).append(i)
            else:
                valid[i] = False
        out = np.full(n, np.nan)
        for idxs in groups.values():
            Q = np.stack([qa[i] for i in idxs])
            C = np.stack([ca[i] for i in idxs])
            num = _leftfold_dot(Q, C)
            den = np.sqrt(_leftfold_dot(Q, Q)) * np.sqrt(_leftfold_dot(C, C))
            out[idxs] = num / den
        return _with_nulls(out, valid)

    return cos


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. queries: (query_id, embedding)."""
    q = F.broadcast(queries.select(F.col("query_id"), F.col(vec_col).alias("q_vec")))
    joined = emb.alias("c").crossJoin(q).filter(F.col("query_id") != F.col(id_col))
    cos = batch_cosine_udf()
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cos(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).round(6).tolist()


def lsh_signature_udf(planes: list[list[float]]):
    """pandas_udf: embedding → sign-bit signature long, all planes in
    one vectorized pass per Arrow batch. The per-plane dot keeps
    left-fold accumulation (cumsum over the dim axis) so the sign
    decisions match the fixture oracle bit-for-bit."""
    P = np.asarray(planes, dtype=np.float64)  # (p, dim)
    weights = (1 << np.arange(len(planes), dtype=np.uint64)).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def sig(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="int64")
        arrs, valid = _vec_rows(v)
        valid &= np.asarray([a is not None and a.shape[0] == P.shape[1] for a in arrs])
        out = np.zeros(n, dtype=np.int64)
        idxs = np.flatnonzero(valid)
        if idxs.size:
            E = np.stack([arrs[i] for i in idxs])  # (n_valid, dim)
            # (n, p, dim) products, sequential cumsum along dim == left fold
            dots = np.cumsum(E[:, None, :] * P[None, :, :], axis=2)[:, :, -1]
            bits = dots > 0  # (n_valid, p)
            out[idxs] = (bits * weights[None, :]).sum(axis=1, dtype=np.int64)
        res = pd.Series(out)
        if not valid.all():  # null bucket → bucket join drops the row
            res = res.astype(object)
            res[~valid] = None
        return res

    return sig


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Bucketed ANN: candidates share the query's LSH bucket; exact
    cosine rerank within the bucket. Pass ``dim`` from the caller/schema
    where known — the ``.first()`` sniff costs one extra driver action
    per call (r2 verdict item 6 — every in-repo call site passes it)."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    sig = lsh_signature_udf(planes)
    cos = batch_cosine_udf()
    emb_b = emb.withColumn("bucket", sig(F.col(vec_col)))
    q_b = F.broadcast(
        queries.select(
            "query_id",
            F.col(vec_col).alias("q_vec"),
            sig(F.col(vec_col)).alias("bucket"),
        )
    )
    joined = emb_b.join(q_b, "bucket").filter(F.col("query_id") != F.col(id_col))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cos(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _pick_centroids(emb: DataFrame, n_centroids: int, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic centroid sample: the n rows with the lowest
    xxhash64(id) — a uniform pseudo-random sample that is identical at
    any parallelism level (no RNG, no data order dependence). Collected
    to the driver: centroids are tiny and ship to executors as a UDF
    closure (broadcast), never through a shuffle."""
    rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())  # a null embedding can't seed a centroid
        .withColumn("_hk", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_hk", id_col)
        .limit(n_centroids)
        .collect()
    )
    vecs = [list(r[vec_col]) for r in rows]
    if not vecs:
        raise ValueError("no non-null embeddings to sample centroids from")
    # ragged stragglers (wrong-length vectors) can't join the stack;
    # keep the majority dimensionality — _cell_assign_udf nulls them out
    from collections import Counter

    dim = Counter(len(v) for v in vecs).most_common(1)[0][0]
    c = np.asarray([v for v in vecs if len(v) == dim], dtype=np.float64)
    return c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)


def _cell_assign_udf(centroids: np.ndarray, n_probe: int):
    """pandas_udf: embedding → its n_probe nearest centroid ids (by
    cosine), vectorized as one matrix multiply per Arrow batch."""
    C = centroids  # (m, dim), rows unit-norm

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs, valid = _vec_rows(v)
        valid &= np.asarray([a is not None and a.shape[0] == C.shape[1] for a in arrs])
        out: list[list[int] | None] = [None] * n  # null cells → cell join drops the row
        idxs = np.flatnonzero(valid)
        if idxs.size:
            E = np.stack([arrs[i] for i in idxs])
            E = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
            sims = E @ C.T  # (n_valid, m)
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            for j, i in enumerate(idxs):
                out[i] = top[j].tolist()
        return pd.Series(out, dtype=object)

    return assign


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: partition vectors into centroid cells,
    probe only the query's n_probe nearest cells, exact cosine rerank
    inside the probed cells.

    Scale shape: cell assignment is a pure map (one matmul per Arrow
    batch against driver-collected centroids — no shuffle); the
    candidate join broadcasts the (small) query set; only candidates in
    probed cells pay the cosine. At 10^12 rows the scan per query drops
    by ~n_centroids/n_probe vs brute force; recall tunes with n_probe.
    Rows are stored once per PRIMARY cell (no duplication); queries
    probe multiple cells.
    """
    cents = _pick_centroids(emb, n_centroids, id_col, vec_col)
    primary = _cell_assign_udf(cents, 1)
    probes = _cell_assign_udf(cents, n_probe)

    emb_cells = emb.select(
        F.col(id_col), F.col(vec_col), F.element_at(primary(F.col(vec_col)), 1).alias("cell")
    )
    q_cells = queries.select(
        "query_id",
        F.col(vec_col).alias("q_vec"),
        F.explode(probes(F.col(vec_col))).alias("cell"),
    )
    joined = emb_cells.join(F.broadcast(q_cells), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    cos = batch_cosine_udf()
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cos(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup candidates via shared LSH bucket, exact
    verify at ``threshold``. Pass ``dim`` where known to skip the
    ``.first()`` driver action."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    sig = lsh_signature_udf(planes)
    b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sig(F.col(vec_col)).alias("bucket"),
    )
    l, r = b.alias("a"), b.alias("b")
    cand = l.join(r, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
    cos = batch_cosine_udf()
    return (
        cand.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def probe_weights(dim: int, seed: int = 2654435761, bias: float = 0.1):
    """Deterministic stand-in weights for the linear quality probe
    (Knuth multiplicative-hash residues mapped to [-0.5, 0.5)). A real
    deployment loads TRAINED classifier weights (fasttext-style quality
    model distilled to a linear probe over the embedding); the scoring
    plan is identical — only this vector changes."""
    w = [(((j + 1) * seed) % 1000) / 1000.0 - 0.5 for j in range(dim)]
    return w, bias


def linear_probe_udf(weights, bias: float = 0.0):
    """Model-based quality filtering: sigmoid(w·x + b) per embedding,
    one vectorized numpy pass per Arrow batch with the weight vector
    broadcast in the UDF closure (64 doubles — no shuffle, no join; the
    classifier rides the scan). Null/ragged/wrong-dim embeddings yield
    real SQL nulls (see _with_nulls). Left-fold dot keeps bit parity
    with the oracle's sequential list_dot_product loop."""
    w = np.asarray(weights, dtype=np.float64)
    b = float(bias)

    @F.pandas_udf(T.DoubleType())
    def probe(col: pd.Series) -> pd.Series:
        n = len(col)
        if n == 0:
            return pd.Series([], dtype="float64")
        arrs, valid = _vec_rows(col)
        for i in range(n):
            if valid[i] and arrs[i].size != w.size:
                valid[i] = False
        out = np.full(n, np.nan)
        idxs = [i for i in range(n) if valid[i]]
        if idxs:
            M = np.stack([arrs[i] for i in idxs])
            z = _leftfold_dot(M, np.broadcast_to(w, M.shape)) + b
            out[idxs] = 1.0 / (1.0 + np.exp(-z))
        return _with_nulls(out, valid)

    return probe
