"""Distributed k-NN join: every row of a QUERY TABLE gets its k nearest
neighbors from an IVF-indexed base — no driver-sized query batch
anywhere.

Every other ANN probe in the engine (knn_exact/knn_ivf/knn_graph_*)
serves a driver-held query batch, the reference's own serving shape
(multi_tenant_script.py:101-142 holds `xq` in process). A training-data
pipeline needs the TABLE×TABLE form — SemDeDup-style pruning, k-NN
graph construction, corpus-vs-corpus contamination — where the query
side is itself 100 TB-partitioned and can never visit the driver.

Physical shape (the 100 TB design):
  1. queries are assigned DISTRIBUTEDLY to their nprobe nearest IVF
     cells (mapInPandas over the query table with the broadcast
     centroid matrix — nlist×dim floats, the only driver-held state),
     exploding to nprobe rows per query;
  2. the base side is pre-filtered by a broadcast semi-join on the
     ≤nlist distinct probed cells, so unprobed inverted lists are never
     shuffled (a no-op at full probe, partition-level pruning at small
     nprobe);
  3. both sides co-partition on centroid_id via
     groupBy().cogroup().applyInPandas — ONE shuffle each side, the
     same key the index layout already uses — and a per-cell GEMM
     emits each query's local top-k (≤ k rows per query per probed
     cell);
  4. a final per-query window (WindowGroupLimit: rank-filter group
     limit, no full sort) merges the ≤ k·nprobe candidates per query.

Skew: cell populations are bounded by the k-means balance the IVF
builder already maintains (~N/nlist per cell, the `default_grid`
sizing rule); an outlier cell is one AQE skew-split away, and nprobe
multiplies only the (narrow) query side.

Exactness: with nprobe = nlist every query probes every cell, so the
candidate union covers the whole base and the join is EXACT — that is
the registered `knn_join` configuration the DuckDB twin replays as a
brute-force cross join (oracle PROMOTED r16). Cosine scores are
rounded to 6 dp BEFORE any ranking (local cell top-k and the final
window use the same (rounded score, vec_id) comparator as the SQL
twin), so a last-ulp float64 summation difference between numpy and
DuckDB cannot flip an order — and the LOCAL cut applies that CANONICAL
comparator to emit exactly k rows per query (knn.topk_canonical): with a
shared total order, the tie members the local cut keeps (lowest
vec_ids) are exactly the ones the final window would rank, so
determinism needs no tie-inclusive over-emission. History: an
argpartition-only cut kept an ARBITRARY tie member (ADVICE r15); the
tie-INCLUSIVE replacement emitted whole duplicate clusters per query
on near-dup-heavy corpora (ADVICE r16); the canonical exact-k cut
closes both. Partial probe is the scale path: `knn_join_ivf` at
nprobe << nlist, recall-floor-pinned (tests/test_knnjoin.py).

Rounding-boundary caveat (ADVICE r17): the round-before-rank guarantee
holds for last-ULP noise, not for scores landing EXACTLY on a
representable .xxxxxx5 boundary — numpy np.round is half-to-EVEN while
DuckDB ROUND(DOUBLE, n) is half-AWAY-from-zero, so such a score would
round differently across engines and could still flip a tie in the
knn_join / knn_join_l2 oracles. No fixture has hit one (the operands
are irrational-ish float sums; an exact decimal boundary needs crafted
inputs); if one of these oracles ever hash-mismatches on a NEW
fixture, diagnose THIS class before suspecting the kernel. See also
the oracle-pitfalls list in queries_relational.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import SEED  # noqa: F401  (seed parity with index builders)
from cs598vectordb_spark.operators.index import IvfIndex, build_ivf_index
from cs598vectordb_spark.operators.knn import rank_topk, squared_l2_block, topk_canonical

COS_ROUND = 6  # shared with the DuckDB twin; see module docstring


def default_join_nlist(n_rows: int) -> int:
    """~1k rows per inverted list with a floor of 8 — the same
    cells-∝-rows discipline as `default_grid2` (SCALING.md §6): the
    per-cell GEMM block stays executor-sized as the corpus grows."""
    import math

    return max(8, math.ceil(n_rows / 1000))


def _unit_rows(X: np.ndarray) -> np.ndarray:
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)


def assign_queries_ivf(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    id_col: str = "q_id",
    vec_col: str = "embedding",
    metric: str = "l2",
) -> DataFrame:
    """Distributed probe assignment: each query row explodes to its
    `nprobe` nearest centroids (one GEMM per Arrow batch against the
    broadcast centroid matrix; cosine assigns by ANGLE — normalized
    dot — matching the spherical blocking build_join_index uses).
    Output: (centroid_id, q_id, embedding), |Q|·nprobe rows — the
    narrow side of the cell join."""
    nprobe = min(nprobe, centroids.shape[0])
    cosine = metric == "cosine"
    bc = queries.sparkSession.sparkContext.broadcast(
        _unit_rows(centroids) if cosine else centroids
    )

    def kern(batches):
        C = bc.value
        c2 = np.square(C).sum(1)[None, :]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if cosine:
                d2 = -(_unit_rows(Q) @ C.T)  # most-aligned first
            else:
                d2 = np.square(Q).sum(1, keepdims=True) - 2.0 * (Q @ C.T) + c2
            # argpartition + per-row sort: O(nlist) per query, not a full sort
            near = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "centroid_id": near.ravel().astype(np.int32),
                    "q_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), nprobe),
                    vec_col: pdf[vec_col].to_numpy().repeat(nprobe),
                }
            )

    return queries.select(F.col(id_col).alias("q_id"), vec_col).mapInPandas(
        kern, f"centroid_id int, q_id long, {vec_col} array<float>"
    )


def build_join_index(
    base: DataFrame,
    nlist: int,
    metric: str = "cosine",
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> IvfIndex:
    """Blocking index whose geometry matches the join metric. L2
    delegates to build_ivf_index. Cosine is spherical k-means blocking:
    centroids trained on UNIT-normalized samples and base rows assigned
    by angle — cosine neighbors share direction, so direction cells are
    the right blocks (an L2-cell index splits same-direction points by
    magnitude and costs ~20 recall points at nprobe/nlist=1/4). The
    assigned table keeps the ORIGINAL vectors: normalization is blocking
    geometry only, scoring stays bit-identical to the brute-force twin."""
    if metric == "l2":
        return build_ivf_index(
            base, nlist=nlist, train_sample=train_sample,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
    from cs598vectordb_spark.operators.index import _kmeans_fit

    sample = base.select(id_col, vec_col).orderBy(id_col).limit(train_sample).toPandas()
    X = _unit_rows(np.stack(sample[vec_col].to_numpy()).astype(np.float64))
    C = _unit_rows(_kmeans_fit(X, nlist, seed))
    bc = base.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = _unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            yield pdf.assign(centroid_id=(B @ Cb.T).argmax(axis=1).astype(np.int32))

    from pyspark.sql.types import IntegerType, StructField, StructType

    in_schema = base.select(id_col, vec_col).schema
    out_schema = StructType(
        list(in_schema.fields) + [StructField("centroid_id", IntegerType())]
    )
    assigned = base.select(id_col, vec_col).mapInPandas(assign, out_schema)
    return IvfIndex(assigned, C, nlist, metric="cosine")


_TILE_SCORE_ELEMS = 32_000_000  # ≈256 MB float64 score block per task


def knn_join_ivf(
    queries: DataFrame,
    index: IvfIndex,
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tile_elems: int = _TILE_SCORE_ELEMS,
    query_shards: int = 1,
) -> DataFrame:
    """Cell-cogrouped k-NN join of a query TABLE against an IvfIndex.

    Returns (q_id, rank, vec_id, cos_sim|dist): rank 1..k per q_id,
    cosine ranked on the 6-dp-rounded similarity (descending, vec_id
    tie-break), L2 on the raw float64 squared distance (ascending).
    `exclude_self` drops the (q_id == vec_id) pair — the self-join
    configuration, where each query is also a base row.

    Query-side tiling (r18): cogroup hands the kernel the ENTIRE
    per-cell query group, and the score block is |B|×|Q| — at the
    decontamination shape (small indexed eval side, a handful of
    cells, full probe) that group is a whole train slice, and the
    untiled kernel attempted a 237 GiB allocation (12,724 × 2.5M, the
    first 10M semdecon run). Per-query top-k is independent across
    queries, so the kernel tiles the query axis at ~`tile_elems` score
    cells (comparator and values bit-identical to the untiled form —
    pinned by tests/test_knnjoin.py's tiny-tile equality test); peak
    task memory is O(|B|·tile + |B|·d), independent of |Q|.

    Query sharding (r18): with few cells the cogroup's task count is
    the cell count — the 10M semdecon rerun ran 7 single-core kernels
    on a 32-core host (75% idle). `query_shards=S` widens the cogroup
    key to (centroid_id, xxhash64(q_id) mod S): the SMALL base side is
    replicated ×S (the asymmetric-replication rule — never explode the
    big side) and task parallelism becomes nlist×S. The final
    per-query window already merges globally across cells, so the
    result is identical for any S (pinned alongside the tiling test;
    the shard hash is xxhash64, NOT q_id mod S, because callers slice
    work by q_id modulo and a correlated key would collapse the shard
    space)."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    if metric != index.metric:
        # probing an L2-blocked index by angle (or vice versa) uses the
        # wrong blocking geometry and silently degrades partial-probe
        # recall — the build metric travels on IvfIndex (ADVICE r15)
        raise ValueError(
            f"index was blocked for metric {index.metric!r}; "
            f"join requested {metric!r} — rebuild with build_join_index"
        )
    q_assigned = assign_queries_ivf(
        queries, index.centroids, nprobe, id_col="q_id", vec_col=vec_col, metric=metric
    )
    if nprobe >= index.nlist:
        # full probe: every list is probed, the semi-join is a no-op —
        # skip it so the assignment GEMM runs exactly once (as the
        # single cogroup input) instead of twice (ADVICE r15)
        base = index.assigned.select(
            "centroid_id", F.col(id_col).alias("vec_id"), vec_col
        )
    else:
        # partial probe: materialize the assignment once (localCheckpoint
        # → executor block storage, auto-freed by the ContextCleaner when
        # the plan is GC'd) so deriving the probed-cell list does not
        # re-run the assignment GEMM over the whole query table
        q_assigned = q_assigned.localCheckpoint(eager=True)
        # bounded probed-cell list (≤ nlist rows): broadcast semi-join so
        # unprobed inverted lists never enter the cell shuffle
        probed = q_assigned.select("centroid_id").distinct()
        base = index.assigned.join(
            F.broadcast(probed), "centroid_id", "left_semi"
        ).select("centroid_id", F.col(id_col).alias("vec_id"), vec_col)
    cosine = metric == "cosine"
    score_col = "cos_sim" if cosine else "dist"

    def cell_kernel(qpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"q_id": [], "vec_id": [], score_col: []})
        if len(qpdf) == 0 or len(bpdf) == 0:
            return empty
        q_ids_all = qpdf["q_id"].to_numpy(dtype=np.int64)
        b_ids = bpdf["vec_id"].to_numpy(dtype=np.int64)
        B = np.stack(bpdf[vec_col].to_numpy()).astype(np.float64)
        if cosine:
            Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
            bad = -np.inf
        else:
            bad = np.inf
        qvecs = qpdf[vec_col].to_numpy()
        tile = max(256, tile_elems // max(len(b_ids), 1))
        outs = []
        for s in range(0, len(q_ids_all), tile):
            e = min(len(q_ids_all), s + tile)
            Q = np.stack(qvecs[s:e]).astype(np.float64)
            q_ids = q_ids_all[s:e]
            if cosine:
                Qn = Q / np.maximum(
                    np.linalg.norm(Q, axis=1, keepdims=True), 1e-30
                )
                # round BEFORE ranking: the comparator must equal the
                # twin's
                scores = np.round(Bn @ Qn.T, COS_ROUND)  # |B|×|tile|
            else:
                # same round-before-ranking discipline as the cosine leg
                # (r17, with the knn_join_l2 twin): the DuckDB twin
                # computes the inner-product expansion of ||b−q||² and
                # rounds to the same 6 dp, so cross-engine last-ulp
                # noise cannot flip a rank or the value hash
                scores = np.round(squared_l2_block(B, Q), COS_ROUND)
            if exclude_self:
                scores[b_ids[:, None] == q_ids[None, :]] = bad
            # local cell cut: exactly k rows per query under the canonical
            # (score, vec_id) order the final window shares
            outs.append(
                topk_canonical(
                    scores, b_ids, q_ids, k,
                    ascending=not cosine, score_col=score_col,
                )
            )
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    if query_shards > 1:
        q_assigned = q_assigned.withColumn(
            "q_shard",
            F.pmod(F.xxhash64("q_id"), F.lit(query_shards)).cast("int"),
        )
        base = base.withColumn(
            "q_shard",
            F.explode(F.sequence(F.lit(0), F.lit(query_shards - 1))),
        )
        keys = ["centroid_id", "q_shard"]
    else:
        keys = ["centroid_id"]
    local = q_assigned.groupBy(*keys).cogroup(base.groupBy(*keys)).applyInPandas(
        lambda qp, bp: cell_kernel(qp, bp),
        f"q_id long, vec_id long, {score_col} double",
    )
    return rank_topk(local, k, score_col, ascending=not cosine)


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    nlist: int | None = None,
    nprobe: int | None = None,
    metric: str = "cosine",
    exclude_self: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Convenience form: build (or size) the IVF blocking index from the
    base, then run the cogrouped cell join. nlist defaults by the
    rows-per-cell rule; nprobe=None means FULL probe — the exact
    configuration (candidate union covers the base)."""
    if nlist is None:
        nlist = default_join_nlist(base.count())
    idx = build_join_index(base, nlist=nlist, metric=metric, id_col=id_col, vec_col=vec_col)
    return knn_join_ivf(
        queries,
        idx,
        k=k,
        nprobe=nlist if nprobe is None else nprobe,
        metric=metric,
        exclude_self=exclude_self,
        id_col=id_col,
        vec_col=vec_col,
    )


def semantic_decontamination(
    train: DataFrame,
    eval_set: DataFrame,
    tau: float = 0.35,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: for EVERY training vector, its
    single nearest eval-set vector and a `contaminated` flag at cosine
    ≥ tau — the semantic complement of the shingle-overlap
    `decontamination` op (paraphrased eval leakage carries no shingle).

    Orientation is the 100 TB one: the EVAL set is the (small) indexed
    base, the training corpus is the query TABLE streaming through the
    cogrouped join — train never visits the driver, and the full-probe
    join over the eval base is EXACT, so the flag is not approximate.
    Every train row emits (flag true/false), so downstream anti-joins
    and audits see the whole corpus, not just hits."""
    q = train.select(F.col(id_col).alias("q_id"), vec_col)
    if nlist is None:
        nlist = default_join_nlist(eval_set.count())
    idx = build_join_index(eval_set, nlist=nlist, metric="cosine",
                           id_col=id_col, vec_col=vec_col)
    hits = knn_join_ivf(q, idx, k=1, nprobe=nlist, metric="cosine",
                        id_col=id_col, vec_col=vec_col)
    return hits.select(
        F.col("q_id").alias("train_id"),
        F.col("vec_id").alias("eval_id"),
        "cos_sim",
        (F.col("cos_sim") >= tau).alias("contaminated"),
    )
