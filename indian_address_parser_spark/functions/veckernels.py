"""Broadcast-matrix Arrow kernels for the embedding-similarity family.

The round-5 embedding queries scored pairs with JVM higher-order-function
folds (``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,x) -> acc+x)``)
evaluated per pair — interpreted lambda execution over 64 elements for
every one of the O(n²) (brute) or O(candidates) pairs, plus a join per
vector side to re-attach the arrays. These kernels follow the optimization
guide §4.2 instead: ship the (vec_id → vector) table ONCE as a broadcast
numpy matrix (read driver-side via pyarrow — the same pattern the learned
IVF uses for its centroids) and hand whole Arrow batches to numpy. The
pair frames then carry only 8-byte ids; no array column is ever joined or
shuffled.

EXACTNESS CONTRACT: every floating-point reduction here accumulates
DIM-SEQUENTIALLY (``acc = acc + x_d * y_d`` for d = 0..dim-1, vectorized
across rows, one IEEE-754 multiply and one add per step) — the identical
operation sequence as the Spark fold it replaces and as DuckDB's
sequential ``list_dot_product`` / ``list_cosine_similarity`` loops. No
BLAS matmul, no pairwise/tree summation, no FMA contraction: every double
produced is bit-identical to the round-5 plan, so the driver's value
hashes cannot move. Rounding (Spark ``round(_, 6)``, HALF_UP) and the
top-k ranking window stay in the JVM plan, unchanged.

Scale note: the broadcast is O(n·dim) — the classic flat-index layout
(FAISS-style) that every brute-force/re-rank stage assumes. The brute
top-k query remains the documented quadratic oracle baseline; LSH/IVF
stay the scale paths, and their candidate generation is unchanged — only
the per-pair scoring kernel moved from interpreted JVM folds to numpy.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "read_emb_matrix",
    "seq_rowwise_dot",
    "seq_cross_dots",
    "brute_topk_candidates",
    "attach_pair_cos",
    "plane_band_signature",
    "lsh_planes",
]

N_PLANES = 16  # random-hyperplane LSH: 16 sign bits in 2 bands of 8
EMB_DIM = 64


def read_emb_matrix(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids int64[n], X float64[n, dim]) from ``embeddings.parquet``.

    float32 → float64 widening is exact, so X matches Spark's
    ``embedding.cast(array<double>)`` element-for-element.
    """
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = np.asarray(t.column("vec_id").to_pandas().to_numpy(), dtype=np.int64)
    X = np.stack(t.column("embedding").to_pandas().to_numpy()).astype(np.float64)
    return ids, X


def seq_rowwise_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-paired dot(A[i], B[i]) with dim-sequential accumulation."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def seq_cross_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs dot(A[i], B[j]) as (len(A), len(B)), dim-sequential."""
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    tmp = np.empty_like(acc)
    for d in range(A.shape[1]):
        np.multiply(A[:, d][:, None], B[:, d][None, :], out=tmp)
        acc += tmp
    return acc


def _broadcast_emb(spark, sf_dir: str, with_norms: bool = True):
    ids, X = read_emb_matrix(sf_dir)
    norms = np.sqrt(seq_rowwise_dot(X, X)) if with_norms else None
    order = np.argsort(ids, kind="stable")
    return spark.sparkContext.broadcast((ids, X, norms, ids[order], order))


def _lookup(sids: np.ndarray, sorder: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Positions of ids ``q`` in the broadcast table (q ⊆ ids)."""
    return sorder[np.searchsorted(sids, q)]


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_raw", T.DoubleType()),
    ]
)


def brute_topk_candidates(
    spark, sf_dir: str, queries_df: DataFrame, k: int, margin: float = 2e-6
) -> DataFrame:
    """(vec_id) → all (id_a, id_b, cos_raw) rows that can reach the final
    top-k of ``round(cos, 6) DESC, id_b ASC`` for id_a = vec_id.

    Per query row the kernel scores every other vector (the brute-force
    baseline semantics) and keeps rows with ``cos >= kth_largest - margin``.
    Rounding to 6dp is monotone and moves any value by at most 5e-7, so a
    row with ``cos < kth - 2e-6`` rounds strictly below the kth candidate's
    rounded value and can never enter the rounded-order top-k; every
    potential tie (|cos - kth| <= 1e-6) IS emitted, and the unchanged JVM
    round + row_number window performs the exact final selection.
    """
    bc = _broadcast_emb(spark, sf_dir)

    def kernel(batches):
        ids, X, norms, sids, sorder = bc.value
        n = len(ids)
        kk = min(k, n - 1)
        for pdf in batches:
            q = pdf["vec_id"].to_numpy(dtype=np.int64)
            if q.size == 0:
                continue
            idx = _lookup(sids, sorder, q)
            A = X[idx]
            cos = seq_cross_dots(A, X)
            denom = norms[idx][:, None] * norms[None, :]
            cos /= denom
            rows = np.arange(q.size)
            cos[rows, idx] = -np.inf  # exclude self (id_a != id_b)
            out_a, out_b, out_c = [], [], []
            for r in rows:
                row = cos[r]
                if np.isnan(row).any():
                    keep = np.ones(n, dtype=bool)
                    keep[idx[r]] = False  # degenerate data: defer fully to JVM
                else:
                    kth = np.partition(row, n - 1 - kk)[n - 1 - kk]
                    keep = row >= kth - margin
                out_a.append(np.full(int(keep.sum()), q[r], dtype=np.int64))
                out_b.append(ids[keep])
                out_c.append(row[keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    return queries_df.select("vec_id").mapInPandas(kernel, _PAIR_SCHEMA)


def attach_pair_cos(spark, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) → (id_a, id_b, cos_raw): exact cosine per candidate
    pair from the broadcast matrix — replaces two array-attach joins plus
    a per-pair HOF fold with one narrow Arrow pass over 8-byte ids."""
    bc = _broadcast_emb(spark, sf_dir)

    def kernel(batches):
        ids, X, norms, sids, sorder = bc.value
        for pdf in batches:
            a = pdf["id_a"].to_numpy(dtype=np.int64)
            if a.size == 0:
                continue
            b = pdf["id_b"].to_numpy(dtype=np.int64)
            ia = _lookup(sids, sorder, a)
            ib = _lookup(sids, sorder, b)
            dot = seq_rowwise_dot(X[ia], X[ib])
            cos = dot / (norms[ia] * norms[ib])
            yield pd.DataFrame({"id_a": a, "id_b": b, "cos_raw": cos})

    return pairs.select("id_a", "id_b").mapInPandas(kernel, _PAIR_SCHEMA)


def lsh_planes(n_planes: int = N_PLANES, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — both engines consume
    the SAME literal matrix, so the signatures agree by construction."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def plane_band_signature(spark, sf_dir: str, queries_df: DataFrame) -> DataFrame:
    """(vec_id) → (vec_id, band0, band1): the 16 random-hyperplane sign
    bits packed into two 8-bit band ints. Same ±1 plane literals, same
    dim-sequential dot, same ``dot >= 0`` decision as the JVM HOF plan —
    the sign bits are computed on bit-identical doubles."""
    planes = np.asarray(lsh_planes(), dtype=np.float64)
    bc = _broadcast_emb(spark, sf_dir, with_norms=False)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("band0", T.IntegerType()),
            T.StructField("band1", T.IntegerType()),
        ]
    )
    weights = (1 << np.arange(8)).astype(np.int64)

    def kernel(batches):
        ids, X, _, sids, sorder = bc.value
        for pdf in batches:
            q = pdf["vec_id"].to_numpy(dtype=np.int64)
            if q.size == 0:
                continue
            idx = _lookup(sids, sorder, q)
            dots = seq_cross_dots(X[idx], planes)  # (m, 16)
            bits = (dots >= 0).astype(np.int64)
            band0 = (bits[:, :8] * weights).sum(axis=1).astype(np.int32)
            band1 = (bits[:, 8:] * weights).sum(axis=1).astype(np.int32)
            yield pd.DataFrame({"vec_id": q, "band0": band0, "band1": band1})

    return queries_df.select("vec_id").mapInPandas(kernel, schema)
