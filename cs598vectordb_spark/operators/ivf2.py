"""Two-level IVF (centroid-of-centroids) — nlist scaling beyond a
driver-sized centroid matrix.

Flat IVF (operators/index.py) scores queries against ALL nlist centroids
on the driver — fine while nlist is thousands, impossible when a 100 TB
base wants nlist ~ sqrt(N) ~ 10^5-10^6 lists. The classic fix (FAISS's
IVF_HNSW / two-level coarse quantizers; the reference's own coarse
quantizer is trained on a bounded sample, multi_tenant_script.py:94-99)
is hierarchical:

* L1: a driver-sized coarse layer (nlist1 centroids, k-means on a
  bounded sample — same trainer as flat IVF).
* L2: per-L1-cell sub-centroids, trained INSIDE one applyInPandas pass
  over each cell (sampled locally, Lloyd's in numpy) which also assigns
  every row its (l1_id, l2_id). The L2 centroid table is then the exact
  per-list mean, computed DISTRIBUTED via posexplode + avg — the full
  L2 matrix is never collected to the driver at build time.

Probe: score L1 on the driver (nlist1 GEMM), pick nprobe1 cells, pull
ONLY those cells' L2 rows (bounded by nprobe1 * nlist2), pick the best
nprobe2 sub-lists per query, then run the same masked-GEMM local-top-k
kernel as flat IVF over the pruned scan. On a table materialized
PARTITIONED BY (l1_id, l2_id), the IN-list filter becomes parquet
PartitionFilters, so a probe touches nprobe2 / (nlist1 * nlist2) of the
bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED
from cs598vectordb_spark.operators.knn import (
    nearest_lists,
    pooled_broadcast,
    query_block,
    rank_topk,
    squared_l2_block,
    topk_canonical,
)


@dataclass
class Ivf2Index:
    assigned: DataFrame  # base columns + l1_id, l2_id
    l1_centroids: np.ndarray  # (nlist1, dim) — driver-sized by design
    l2_table: DataFrame  # (l1_id, l2_id, centroid) — stays distributed
    nlist1: int
    nlist2: int
    path: str | None = None


def build_ivf2_index(
    base: DataFrame,
    nlist1: int = 8,
    nlist2: int = 4,
    train_sample: int = 10_000,
    cell_sample: int = 4_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> Ivf2Index:
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    from cs598vectordb_spark.operators.index import _kmeans_fit, build_ivf_index

    # L1 = a flat IVF assignment (driver-sample trainer + broadcast kernel)
    l1 = build_ivf_index(
        base, nlist=nlist1, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    l1_assigned = l1.assigned.withColumnRenamed("centroid_id", "l1_id")

    out_schema = StructType(
        list(base.select(id_col, vec_col).schema.fields)
        + [StructField("l1_id", IntegerType()), StructField("l2_id", IntegerType())]
    )

    def cell_kmeans(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        X = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
        k = min(nlist2, len(pdf))
        Xs = X[: min(len(pdf), cell_sample)]  # deterministic local sample
        C = _kmeans_fit(Xs, k, seed)
        d2 = (
            np.square(X).sum(1, keepdims=True)
            - 2.0 * (X @ C.T)
            + np.square(C).sum(1)[None, :]
        )
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "l1_id": pdf["l1_id"],
                "l2_id": d2.argmin(axis=1).astype(np.int32),
            }
        )

    assigned = (
        l1_assigned.groupBy("l1_id").applyInPandas(cell_kmeans, out_schema).persist()
    )
    assigned.count()
    # exact per-list means, computed distributed (never a full-L2 collect)
    l2_table = (
        assigned.select("l1_id", "l2_id", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("l1_id", "l2_id", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("l1_id", "l2_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(
            "l1_id", "l2_id", F.transform("s", lambda x: x["m"]).alias("centroid")
        )
        .persist()
    )
    l2_table.count()
    return Ivf2Index(assigned, l1.centroids, l2_table, nlist1, nlist2)


def autotune_ivf2(
    index: Ivf2Index,
    queries: DataFrame,
    truth: DataFrame,
    target_recall: float = 0.9,
    k: int = DEFAULT_K,
    grid: list[tuple[int, int]] | None = None,
) -> tuple[dict, list[dict]]:
    """T4 for the hierarchical index: sweep (nprobe1, nprobe2) on one
    built index, score recall against the exact oracle, return the
    cheapest config clearing the target. Selectivity is the fraction of
    sub-lists (and on a materialized index, of bytes) each query can
    actually touch: a query reaches at most nprobe1·nlist2 sub-lists
    through the L1 prune, so nprobe2 beyond that bound is capped —
    otherwise custom grids with np2 > np1·nlist2 would overstate cost
    and skew the cheapest-clearing-target pick."""
    from cs598vectordb_spark.operators.metrics import recall_at_k

    grid = grid or [(2, 4), (2, 8), (4, 8), (4, 12), (4, 16), (8, 16), (8, 32)]
    n_lists = index.nlist1 * index.nlist2
    trace, best = [], None
    for np1, np2 in grid:
        rec = recall_at_k(knn_ivf2(index, queries, k, np1, np2), truth, k).collect()[0][0]
        entry = {
            "nprobe1": np1,
            "nprobe2": np2,
            "recall": rec,
            "selectivity": round(min(np2, np1 * index.nlist2, n_lists) / n_lists, 4),
        }
        trace.append(entry)
        if rec >= target_recall and (best is None or entry["selectivity"] < best["selectivity"]):
            best = entry
    return best or {}, trace


def materialize_ivf2(index: Ivf2Index, path: str) -> Ivf2Index:
    """Write the assigned table PARTITIONED BY (l1_id, l2_id) so probe
    filters become parquet PartitionFilters — 'nprobe2 of nlist1*nlist2
    inverted lists' as directory pruning."""
    spark = index.assigned.sparkSession
    index.assigned.write.mode("overwrite").partitionBy("l1_id", "l2_id").parquet(path)
    assigned = spark.read.parquet(path)
    return Ivf2Index(
        assigned, index.l1_centroids, index.l2_table, index.nlist1, index.nlist2, path
    )


def select_sublists(
    index, Q: np.ndarray, nprobe1: int, nprobe2: int
) -> tuple[list[int], dict[int, np.ndarray]]:
    """The two-level probe selection shared by knn_ivf2 and
    knn_graph_layered2 (any index with l1_centroids, l2_table, nlist1,
    nlist2): L1 scored on the driver, ONLY the probed cells' L2 rows
    pulled (bounded collect: nprobe1·nlist2), then each query's best
    nprobe2 sub-lists among its own cells. Returns (probed L1 cells,
    sub-list key l1·nlist2 + l2 → ascending query indices). Arithmetic
    is nearest_lists' GEMM expansion + argsort at both levels."""
    nq = len(Q)
    cells = nearest_lists(Q, index.l1_centroids, min(nprobe1, index.nlist1))
    cell_set = np.unique(cells).tolist()
    l2 = (
        index.l2_table.filter(F.col("l1_id").isin(cell_set))
        .select("l1_id", "l2_id", "centroid")
        .collect()
    )
    keys = np.array([r["l1_id"] * index.nlist2 + r["l2_id"] for r in l2], dtype=np.int64)
    C2 = np.ascontiguousarray(np.stack([np.asarray(r["centroid"]) for r in l2]), dtype=np.float64)
    d2 = (
        np.square(Q).sum(1, keepdims=True)
        - 2.0 * (Q @ C2.T)
        + np.square(C2).sum(1)[None, :]
    )
    # mask sub-lists whose cell the query did not probe
    row_cell = keys // index.nlist2
    for j in range(nq):
        d2[j, ~np.isin(row_cell, cells[j])] = np.inf
    order = np.argsort(d2, axis=1)[:, : min(nprobe2, len(l2))]
    probed: dict[int, list[int]] = {}
    for j in range(nq):
        for key in keys[order[j]][np.isfinite(d2[j, order[j]])]:
            probed.setdefault(int(key), []).append(j)
    return cell_set, {key: np.asarray(js, dtype=np.int64) for key, js in probed.items()}


def knn_ivf2(
    index: Ivf2Index,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe1: int = 4,
    nprobe2: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical probe: the two-level selection (select_sublists),
    then one masked-GEMM kernel over the pruned scan and one
    WindowGroupLimit merge — the flat-IVF plan with a two-level pruner
    in front."""
    q_ids, Q = query_block(queries, vec_col)
    cell_set, probed = select_sublists(index, Q, nprobe1, nprobe2)
    probe_keys = sorted(probed)
    bc = pooled_broadcast(queries.sparkSession, (q_ids, Q, probed, index.nlist2))

    def kernel(batches):
        bq_ids, bQ, bprobed, n2 = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
            scores = squared_l2_block(B, bQ)
            mask = np.zeros(scores.shape, dtype=bool)
            row_keys = (
                pdf["l1_id"].to_numpy(dtype=np.int64) * n2
                + pdf["l2_id"].to_numpy(dtype=np.int64)
            )
            for key in np.unique(row_keys):
                js = bprobed.get(int(key))
                if js is not None:
                    mask[np.ix_(row_keys == key, js)] = True
            scores[~mask] = np.inf
            out = topk_canonical(scores, ids, bq_ids, k, ascending=True)
            if len(out):
                yield out

    key_col = F.col("l1_id") * index.nlist2 + F.col("l2_id")
    local = (
        index.assigned.filter(F.col("l1_id").isin(cell_set) & key_col.isin(probe_keys))
        .select(F.col(id_col), F.col(vec_col), F.col("l1_id"), F.col("l2_id"))
        .mapInPandas(kernel, "q_id long, vec_id long, dist double")
    )
    return rank_topk(local, k)
