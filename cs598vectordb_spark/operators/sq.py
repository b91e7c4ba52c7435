"""Scalar quantization (SQ8) — the int8 compression leg FAISS ships as
IndexScalarQuantizer (the reference's IVF-PQ config multi_tenant_script.py:
94-99 is the sibling compression path; SQ trades less recall for a
simpler, fully deterministic codec).

Per-dimension affine codec over the whole table: code_d(x) =
floor((x - min_d) / range_d * 255 + 0.5) clamped to [0, 255] — 4 bytes →
1 byte per dimension. Unlike PQ (seeded k-means), the codec is
closed-form from per-dimension min/max, so BOTH the codes and the
reconstruction error face the DuckDB oracle value-for-value — a full
value-hash check of a vector-compression operator.

Scale shape: the stats pass is a posexplode + groupBy(pos) min/max —
partial aggregation runs map-side, so the shuffle carries only
|partitions|·dim rows regardless of table size. Encoding is a pure
Catalyst projection against literal min/scale arrays (no Python, no
shuffle). Search reconstructs inside the same GEMM kernel knn_exact uses.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K
from cs598vectordb_spark.operators.knn import (
    nearest_lists,
    pooled_broadcast,
    query_block,
    rank_topk,
    squared_l2_block,
    topk_canonical,
)

# guards a zero range on constant dimensions; mirrored in the oracle SQL
_EPS = 1e-12


@dataclass
class SqCodec:
    mins: np.ndarray  # (dim,)
    ranges: np.ndarray  # (dim,) max - min, floored at _EPS


def train_sq(base: DataFrame, vec_col: str = "embedding") -> SqCodec:
    """Exact per-dimension min/max over the FULL table (not a sample —
    the stats aggregate is map-side-partial, so one cheap pass)."""
    stats = (
        base.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mins = np.array([r.mn for r in stats])
    ranges = np.maximum(np.array([r.mx for r in stats]) - mins, _EPS)
    return SqCodec(mins, ranges)


def _lit_arr(vals: np.ndarray):
    return F.array(*[F.lit(float(v)) for v in vals])


def sq_encode(
    base: DataFrame,
    codec: SqCodec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(vec_id, codes ARRAY<INT>[dim], *extra_cols): pure Catalyst
    projection — the half-up rounding (floor(x + 0.5)) is chosen over
    round() because both engines evaluate it identically (no
    banker's-rounding divergence). extra_cols ride along unchanged (e.g.
    centroid_id for compressed inverted lists)."""
    dim = len(codec.mins)
    v = F.col(vec_col).cast("array<double>")
    mins, rng = _lit_arr(codec.mins), _lit_arr(codec.ranges)
    idx = F.sequence(F.lit(1), F.lit(dim))
    code = F.transform(
        idx,
        lambda i: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.element_at(v, i.cast("int")) - F.element_at(mins, i.cast("int")))
                    / F.element_at(rng, i.cast("int"))
                    * 255.0
                    + 0.5
                ).cast("int"),
            ),
        ),
    )
    return base.select(
        F.col(id_col), code.alias("codes"), *[F.col(c) for c in (extra_cols or [])]
    )


def sq_decode_error(
    base: DataFrame,
    codec: SqCodec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row summary (mse, max_abs_err, compression_x): reconstruction
    x̂_d = min_d + code_d/255 · range_d, error aggregated table-wide.
    Everything is Catalyst expressions, so the oracle recomputes the
    identical numbers."""
    dim = len(codec.mins)
    v = F.col(vec_col).cast("array<double>")
    mins, rng = _lit_arr(codec.mins), _lit_arr(codec.ranges)
    idx = F.sequence(F.lit(1), F.lit(dim))

    def recon(i):
        code = F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (F.element_at(v, i) - F.element_at(mins, i))
                    / F.element_at(rng, i)
                    * 255.0
                    + 0.5
                ).cast("int"),
            ),
        )
        return F.element_at(mins, i) + code.cast("double") / 255.0 * F.element_at(rng, i)

    err = F.transform(idx, lambda i: F.element_at(v, i.cast("int")) - recon(i.cast("int")))
    sse = F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
    mae = F.array_max(F.transform(err, F.abs))
    per_row = base.select(sse.alias("sse"), mae.alias("mae"))
    return per_row.agg(
        F.round(F.avg("sse"), 6).alias("mse"),
        F.round(F.max("mae"), 6).alias("max_abs_err"),
        F.lit(4.0).alias("compression_x"),
    )


@dataclass
class IvfSqIndex:
    """Compressed inverted lists: int8 codes partitioned by centroid —
    FAISS's IndexIVFScalarQuantizer as a parquet layout. A probe reads
    nprobe/nlist of the PARTITIONS and 1 byte/dim of the CODES: both
    pruning levers compose."""

    table: DataFrame  # (vec_id, codes, centroid_id), parquet PARTITIONED BY centroid_id
    codec: SqCodec
    centroids: np.ndarray
    nlist: int


def build_ivf_sq(
    base: DataFrame,
    path: str,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> IvfSqIndex:
    """Coarse-quantize (k-means lists) then scalar-quantize (int8 codes)
    and materialize PARTITIONED BY centroid_id — one build pass over the
    base, both quantizers trained the engine's usual bounded way."""
    from cs598vectordb_spark.operators.index import build_ivf_index

    ivf = build_ivf_index(base, nlist=nlist, id_col=id_col, vec_col=vec_col)
    codec = train_sq(base, vec_col)
    enc = sq_encode(ivf.assigned, codec, vec_col, id_col, extra_cols=["centroid_id"])
    # repartition on the list id first — see materialize_ivf: a direct
    # partitionBy from the scan-partitioned encoder output writes
    # ~tasks×nlist tiny files
    enc.repartition(nlist, "centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)
    spark = base.sparkSession
    return IvfSqIndex(spark.read.parquet(path), codec, ivf.centroids, nlist)


def knn_ivf_sq(
    index: IvfSqIndex,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the compressed lists: partition-pruned scan of the probed
    centroids' int8 codes, batch reconstruction + masked GEMM in one
    kernel (no joins), local top-k, tiny shuffle — knn_ivf's plan over
    4×-smaller bytes."""
    from cs598vectordb_spark.operators.index import probe_mask

    q_ids, Q = query_block(queries, vec_col)
    probed, probe_set = probe_mask(nearest_lists(Q, index.centroids, nprobe), index.nlist)
    bc = pooled_broadcast(
        queries.sparkSession, (q_ids, Q, probed, index.codec.mins, index.codec.ranges)
    )

    def kern(batches):
        bq_ids, bQ, bprobed, mins, rng = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.float64)
            B = mins[None, :] + codes / 255.0 * rng[None, :]
            scores = squared_l2_block(B, bQ)
            scores[~bprobed[pdf["centroid_id"].to_numpy(dtype=np.int64)]] = np.inf
            out = topk_canonical(scores, ids, bq_ids, k, True)
            if len(out):
                yield out

    local = (
        index.table.filter(F.col("centroid_id").isin(probe_set))
        .select(id_col, "codes", "centroid_id")
        .mapInPandas(kern, "q_id long, vec_id long, dist double")
    )
    return rank_topk(local, k)


def knn_sq(
    codes: DataFrame,
    codec: SqCodec,
    queries: DataFrame,
    k: int = DEFAULT_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over the int8 table: the kernel reconstructs each batch
    (one broadcast of the 2·dim codec floats) and runs the same GEMM /
    local-top-k shape as knn_exact — the scan reads 1-byte codes, full
    floats never leave the codec."""
    q_ids, Q = query_block(queries, vec_col)
    bc = pooled_broadcast(codes.sparkSession, (q_ids, Q, codec.mins, codec.ranges))

    def kern(batches):
        bq_ids, bQ, mins, rng = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.stack(pdf["codes"].to_numpy()).astype(np.float64)
            B = mins[None, :] + C / 255.0 * rng[None, :]
            out = topk_canonical(squared_l2_block(B, bQ), ids, bq_ids, k, True)
            if len(out):
                yield out

    local = codes.mapInPandas(kern, "q_id long, vec_id long, dist double")
    return rank_topk(local, k)
