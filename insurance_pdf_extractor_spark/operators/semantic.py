"""Semantic dedup: spherical k-means over the embedding column, then
SemDeDup-style within-cluster near-duplicate pruning (Abbas et al.
2023, "SemDeDup" — cluster with k-means, then inside each cluster keep
one representative per cosine-similarity group).

Determinism is the design constraint: the gate fixture is an
independent numpy reimplementation, and the driver may run at any
parallelism, so every stage must produce bit-identical results under
any partitioning / aggregation order:

- init: the same lowest-xxhash64(id) pick as the IVF index
  (similarity._pick_centroids) — no RNG, no data-order dependence.
- assignment: one matmul per Arrow batch against broadcast centroids
  (the similarity._cell_assign_udf shape), argmax with a stable sort.
- centroid update: the classic float mean is order-sensitive (Spark
  sums partitions in nondeterministic order), so members are quantized
  to FIXED-POINT int64 (round(v * 2^20) of the unit-normalized vector)
  inside the assignment kernel and the update is an INTEGER sum —
  exact, associative, commutative — expressed as `dim` plain
  `F.sum(vec[i])` aggregates. That keeps the update a standard
  map-side-combined groupBy (shuffle = k rows x dim columns per
  iteration, never member vectors) AND makes it independent of
  execution order. |v| <= 1 after normalization, so the int64 sum
  overflows only past ~2^43 members per cluster.
- per-iteration centroids: integer mean -> float64 -> re-quantized to
  6 decimals with np.round (numpy half-even on BOTH sides) ->
  unit-normalized. Empty clusters keep their previous centroid.

SemDeDup pruning runs per cluster via applyInPandas: members sorted by
(cosine-to-centroid desc, id asc), greedy scan keeps a member only if
no already-kept member is within `threshold` cosine; duplicates point
at the kept representative (`dup_of`). The within-cluster pairwise
cosine is the operator's inherent cost — that is the SemDeDup paper's
own design (k bounds cluster size; at corpus scale k scales with n to
keep clusters ~constant-sized, and the cluster shuffle carries only
(id, vec) for the cluster's members).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _pick_centroids, _vec_rows

_FP_SCALE = 1 << 20  # fixed-point quantum for the integer centroid sum


def _unit_rows(v: pd.Series, dim: int):
    """(matrix, valid mask): unit-normalized float64 rows; null/ragged
    entries stay invalid and get a zero row."""
    arrs, valid = _vec_rows(v)
    valid &= np.asarray([a is not None and a.shape[0] == dim for a in arrs])
    E = np.zeros((len(arrs), dim), dtype=np.float64)
    idxs = np.flatnonzero(valid)
    if idxs.size:
        M = np.stack([arrs[i] for i in idxs])
        E[idxs] = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return E, valid


def _assign_quantize_udf(centroids: np.ndarray):
    """embedding -> (cluster id by max cosine, fixed-point unit vector).
    One Arrow kernel does both so the update stage needs no second pass
    over the floats."""
    C = centroids

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cluster_id", T.IntegerType()),
                T.StructField("qvec", T.ArrayType(T.LongType())),
            ]
        )
    )
    def assign(v: pd.Series) -> pd.DataFrame:
        E, valid = _unit_rows(v, C.shape[1])
        sims = E @ C.T
        best = np.argmax(sims, axis=1)
        q = np.rint(E * _FP_SCALE).astype(np.int64)
        return pd.DataFrame(
            {
                "cluster_id": [int(b) if ok else None for b, ok in zip(best, valid)],
                "qvec": [row.tolist() if ok else None for row, ok in zip(q, valid)],
            }
        )

    return assign


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd iterations; returns (k, dim) unit-norm float64 centroids,
    each quantized to 6 decimals before normalization so an independent
    reimplementation lands on identical values.

    The slim (id, vec) projection is persisted for the fit's n_iter+1
    passes (``persist()`` spills what memory cannot hold) and
    unpersisted on exit."""
    slim = emb.select(F.col(id_col), F.col(vec_col)).persist()
    try:
        C = _quantize_centroids(_pick_centroids(slim, k, id_col, vec_col))
        for _ in range(n_iter):
            assigned = slim.select(
                _assign_quantize_udf(C)(F.col(vec_col)).alias("a")
            ).select("a.cluster_id", "a.qvec")
            sums = (
                assigned.filter(F.col("cluster_id").isNotNull())
                .groupBy("cluster_id")
                .agg(
                    F.count("*").alias("n"),
                    *[F.sum(F.col("qvec")[i]).alias(f"s{i}") for i in range(dim)],
                )
                .collect()
            )
            newC = C.copy()
            for row in sums:
                mean = np.asarray([row[f"s{i}"] for i in range(dim)], dtype=np.float64)
                mean /= row["n"] * _FP_SCALE
                newC[row["cluster_id"]] = mean
            C = _quantize_centroids(newC)
        return C
    finally:
        slim.unpersist()


def _quantize_centroids(C: np.ndarray) -> np.ndarray:
    Cq = np.round(C, 6)
    return Cq / np.maximum(np.linalg.norm(Cq, axis=1, keepdims=True), 1e-12)


def kmeans_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, cos_to_centroid) for every row with a valid
    embedding; null/ragged embeddings get a null cluster (dropped by
    downstream per-cluster stages, mirroring the ANN kernels)."""
    C = centroids

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cluster_id", T.IntegerType()),
                T.StructField("cos_to_centroid", T.DoubleType()),
            ]
        )
    )
    def assign(v: pd.Series) -> pd.DataFrame:
        E, valid = _unit_rows(v, C.shape[1])
        sims = E @ C.T
        best = np.argmax(sims, axis=1)
        cos = np.round(sims[np.arange(len(best)), best], 6)
        return pd.DataFrame(
            {
                "cluster_id": [int(b) if ok else None for b, ok in zip(best, valid)],
                "cos_to_centroid": [float(c) if ok else None for c, ok in zip(cos, valid)],
            }
        )

    return emb.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("a")
    ).select(id_col, vec_col, "a.cluster_id", "a.cos_to_centroid")


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    threshold: float = 0.4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, cos_to_centroid, keep, dup_of): SemDeDup over
    the embedding column. keep=false rows are near-duplicates of the
    kept representative in `dup_of`."""
    C = kmeans_fit(emb, k=k, n_iter=n_iter, dim=dim, id_col=id_col, vec_col=vec_col)
    assigned = kmeans_assign(emb, C, id_col=id_col, vec_col=vec_col).filter(
        F.col("cluster_id").isNotNull()
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("cos_to_centroid", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("dup_of", T.LongType()),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cos_to_centroid", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        E, _valid = _unit_rows(pdf[vec_col], dim)
        sims = E @ E.T
        kept: list[int] = []
        keep_flags, dup_of = [], []
        for i in range(len(pdf)):
            if kept:
                s = sims[i, kept]
                j = int(np.argmax(s))
                if s[j] >= threshold:
                    keep_flags.append(False)
                    dup_of.append(int(pdf[id_col].iloc[kept[j]]))
                    continue
            kept.append(i)
            keep_flags.append(True)
            dup_of.append(None)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster_id": pdf["cluster_id"],
                "cos_to_centroid": pdf["cos_to_centroid"],
                "keep": keep_flags,
                "dup_of": dup_of,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(prune, out_schema)
