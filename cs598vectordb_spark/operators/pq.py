"""Product quantization — the reference's IVF-PQ compression leg
(multi_tenant_script.py:94-99: nlist=100, m=16 subquantizers, 8 bits),
re-expressed as table transforms (SURVEY.md §4 "stretch: true PQ").

* ``train_pq``: per-subspace k-means codebooks fitted on a bounded
  driver-side sample (the reference trains on the 100K `xt` sample — the
  same design point; at 100 TB the sample is a `df.sample()`).
* ``pq_encode``: Arrow kernel mapping each vector to its m nearest
  sub-centroids — an m-byte code per vector (ksub ≤ 256), a
  dim·4/m compression of the stored table. Pure map, no shuffle.
* ``knn_pq``: asymmetric-distance (ADC) search: each query precomputes an
  (m × ksub) distance table against the codebooks, then every encoded row
  scores as m table lookups — one numpy gather per partition batch,
  local top-k, tiny shuffle (same map-side-combine shape as knn_exact).

Recall is graded like the other approximate paths (reference accepts
0.70 for Annoy, BASELINE.md) and measured by `pq_recall`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED
from cs598vectordb_spark.operators.index import _kmeans_fit
from cs598vectordb_spark.operators.knn import (
    pooled_broadcast,
    query_block,
    rank_topk,
    topk_canonical,
)

_CODE_SCHEMA = "vec_id long, codes array<int>"


@dataclass
class PqCodebooks:
    codebooks: np.ndarray  # (m, ksub, dsub)
    m: int
    ksub: int


def train_pq(
    base: DataFrame,
    m: int = 8,
    ksub: int = 16,
    train_sample: int = 10_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = SEED,
    iters: int = 8,
) -> PqCodebooks:
    """Fit m sub-codebooks of ksub centroids each on a deterministic
    sample (orderBy id + limit, like build_ivf_index). dim must divide m.
    8 Lloyd iterations: measured recall is flat beyond that on this data
    while training halves."""
    sample = base.select(id_col, vec_col).orderBy(id_col).limit(train_sample).toPandas()
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.stack(
        [
            _kmeans_fit(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
            for j in range(m)
        ]
    )
    return PqCodebooks(books, m, ksub)


def pq_encode(
    base: DataFrame,
    cb: PqCodebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, codes ARRAY<INT>[m]): nearest sub-centroid per subspace."""
    bc = base.sparkSession.sparkContext.broadcast(cb.codebooks)
    m = cb.m

    def kern(batches):
        books = bc.value
        dsub = books.shape[2]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; ||x||^2 constant per argmin
                d = -2.0 * (sub @ books[j].T) + np.square(books[j]).sum(1)[None, :]
                codes[:, j] = d.argmin(axis=1)
            import pandas as pd

            yield pd.DataFrame({id_col: pdf[id_col].values, "codes": list(codes)})

    return base.select(id_col, vec_col).mapInPandas(kern, _CODE_SCHEMA)


def pq_decode_error(
    base: DataFrame,
    cb: PqCodebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row summary: mean squared reconstruction error over the table +
    the achieved compression ratio — the PQ quality dashboard."""
    bc = base.sparkSession.sparkContext.broadcast(cb.codebooks)
    m, ksub = cb.m, cb.ksub

    def kern(batches):
        books = bc.value
        dsub = books.shape[2]
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            err = np.zeros(len(pdf))
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                d = (
                    np.square(sub).sum(1, keepdims=True)
                    - 2.0 * (sub @ books[j].T)
                    + np.square(books[j]).sum(1)[None, :]
                )
                err += np.maximum(d.min(axis=1), 0.0)
            yield pd.DataFrame({"n": [len(pdf)], "sse": [float(err.sum())]})

    partials = base.select(id_col, vec_col).mapInPandas(kern, "n long, sse double")
    dim = len(base.select(vec_col).first()[0])
    bits = max(int(np.ceil(np.log2(ksub))), 1)
    ratio = (dim * 32.0) / (m * bits)
    return partials.agg(
        F.round((F.sum("sse") / F.sum("n")), 4).alias("mse"),
        F.lit(float(round(ratio, 2))).alias("compression_x"),
        F.lit(m).alias("m"),
        F.lit(ksub).alias("ksub"),
    )


def knn_pq(
    codes: DataFrame,
    cb: PqCodebooks,
    queries: DataFrame,
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the encoded table: per partition, distances are m
    gathers into the per-query lookup tables; only local top-k rows reach
    the shuffle. The local cut is the canonical (dist, vec_id) one, so
    small-ksub code ties resolve identically under any partitioning."""
    q_ids, Q = query_block(queries, vec_col)
    books = cb.codebooks
    m, dsub = cb.m, books.shape[2]
    # (nq, m, ksub) query→sub-centroid distance tables
    T = np.stack(
        [
            np.square(Q[:, j * dsub : (j + 1) * dsub]).sum(1, keepdims=True)
            - 2.0 * (Q[:, j * dsub : (j + 1) * dsub] @ books[j].T)
            + np.square(books[j]).sum(1)[None, :]
            for j in range(m)
        ],
        axis=1,
    )
    bc = pooled_broadcast(codes.sparkSession, (q_ids, T))

    def kern(batches):
        bq_ids, bT = bc.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            # scores[q, i] = sum_j T[q, j, C[i, j]]
            scores = np.zeros((len(bq_ids), n))
            for j in range(m):
                scores += bT[:, j, :][:, C[:, j]]
            yield topk_canonical(scores.T, ids, bq_ids, k, True)

    local = codes.mapInPandas(kern, "q_id long, vec_id long, dist double")
    return rank_topk(local, k)


def knn_pq_refined(
    codes: DataFrame,
    cb: PqCodebooks,
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    refine: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC shortlist + exact re-rank (the FAISS IVFPQ+refine pattern):
    quantized distances select refine·k candidates per query, then only
    those |Q|·refine·k rows fetch full vectors for an exact re-rank. The
    compressed table does the scanning; the exact pass is a broadcast-join
    over a candidate set 100× smaller than the base."""
    from cs598vectordb_spark.functions.distance import squared_l2

    shortlist = knn_pq(codes, cb, queries, k=refine * k, vec_col=vec_col, id_col=id_col)
    qv = queries.select(F.col("q_id"), F.col(vec_col).alias("_q_emb"))
    scored = (
        shortlist.select("q_id", "vec_id")
        .join(base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_b_emb")), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", squared_l2("_q_emb", "_b_emb").alias("dist"))
    )
    return rank_topk(scored, k)
