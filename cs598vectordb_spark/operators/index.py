"""Approximate-NN index builds — "index = materialized table" (SURVEY.md
§2.3 T1/T2/T4).

The reference's indexes are opaque in-memory structures (HNSW graph
dynamic_script_faiss.py:53-57, IVF-PQ multi_tenant_script.py:94-99). Spark
has no graph index; the capability (sub-linear approximate top-k) is
delivered the Spark-native way:

* LSH (T1 analog): MLlib BucketedRandomProjectionLSH fit → the *hash
  table* is materialized as rows (vec_id, table_idx, bucket). Search is a
  bucket equi-join (query hashes ⋈ base hashes) → candidate set → exact
  re-rank. OR-amplification across numHashTables. The join is the index
  probe: at 100 TB the hash table is bucketed-by (table_idx, bucket) so
  the probe shuffles only the (tiny) query side.

* IVF (T2 analog): KMeans centroids (nlist) → base table written
  PARTITIONED BY centroid_id. A query probes its nprobe nearest
  centroids; the scan prunes to those partitions — the reference's
  "nprobe=10 of nlist=100 lists" is literally parquet partition pruning
  here (SURVEY.md §4).

* autotune (T4 analog, MRPT build_autotune_sample(0.9, 10),
  dynamic_script_mrpt.py:44-47): grid-search index params on a query
  sample against the exact oracle, return the cheapest config whose
  recall clears the target.

All randomized steps take SEED.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs598vectordb_spark.config import DEFAULT_K, SEED
from cs598vectordb_spark.functions.distance import squared_l2
from cs598vectordb_spark.operators.knn import (
    nearest_lists,
    pooled_broadcast,
    query_block,
    rank_topk,
    squared_l2_block,
    topk_canonical,
)

# ------------------------------------------------------------------ LSH


@dataclass
class LshIndex:
    """Materialized LSH index: hyperplane matrix + bucketed hash table.

    projections has shape (num_tables * hashes_per_table, dim); table t's
    compound bucket is the '|'-joined floors of its hashes_per_table
    projections (AND-amplification within a table, OR across tables)."""

    hash_table: DataFrame  # (vec_id, table_idx, bucket)
    projections: np.ndarray
    bucket_length: float
    num_tables: int
    hashes_per_table: int = 1

    def close(self) -> None:
        """Release the hash table if a caller persisted it (workload
        protocols build per-snapshot indexes and must not leak them)."""
        self.hash_table.unpersist()


def _random_projections(num_tables: int, dim: int, seed: int = SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    proj = rng.standard_normal((num_tables, dim))
    return proj / np.linalg.norm(proj, axis=1, keepdims=True)


def _hash_long(
    df: DataFrame,
    projections: np.ndarray,
    bucket_length: float,
    hashes_per_table: int,
    vec_col: str,
    keep_cols: list[str],
    out_schema: str,
) -> DataFrame:
    """Long-form LSH hashing (one output row per input row per table) as a
    single Arrow kernel: all num_tables × hashes_per_table projections are
    ONE numpy GEMM per batch, then compound buckets are '|'-joined floors
    (AND-amplification within a table, OR across tables).

    This replaced a Catalyst formulation that inlined every hyperplane as
    a 64-literal array with zip_with+aggregate per projection — a
    multi-thousand-node expression tree that blew past codegen limits and
    ran interpreted, ~10× slower than this kernel. The GEMM shape also
    survives 100 TB: hashing is embarrassingly parallel, no shuffle."""
    proj = projections
    num_tables = proj.shape[0] // hashes_per_table

    def kern(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            H = np.floor((V @ proj.T) / bucket_length).astype(np.int64)
            per_table = [
                ["|".join(map(str, row)) for row in H[:, t * hashes_per_table : (t + 1) * hashes_per_table]]
                for t in range(num_tables)
            ]
            out = pdf[keep_cols].iloc[np.repeat(np.arange(n), num_tables)].reset_index(drop=True)
            out["table_idx"] = np.tile(np.arange(num_tables, dtype=np.int32), n)
            out["bucket"] = [per_table[t][i] for i in range(n) for t in range(num_tables)]
            yield out

    return df.mapInPandas(kern, out_schema)


def build_lsh_index(
    base: DataFrame,
    bucket_length: float = 1.0,
    num_tables: int = 8,
    hashes_per_table: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> LshIndex:
    """Fit + materialize: one long-form hash table (vec_id, table_idx,
    bucket). Long form keeps the probe a plain equi-join and lets the
    table be written bucketed by (table_idx, bucket) at scale."""
    if dim is None:
        dim = len(base.select(vec_col).first()[0])
    proj = _random_projections(num_tables * hashes_per_table, dim, seed)
    table = _hash_long(
        base.select(id_col, vec_col),
        proj,
        bucket_length,
        hashes_per_table,
        vec_col,
        keep_cols=[id_col],
        out_schema=f"{id_col} long, table_idx int, bucket string",
    )
    return LshIndex(table, proj, bucket_length, num_tables, hashes_per_table)


def _multiprobe_expand(q_long: DataFrame, hashes_per_table: int, n_probes: int) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07): besides the home bucket,
    probe buckets whose LAST hash component is perturbed ±1, ±2, … —
    the cheapest neighbors in hash space. Expansion happens on the query
    side only (|Q|·T rows → |Q|·T·n_probes), so the base table and the
    broadcast-join plan are untouched; recall rises without more tables."""
    if n_probes <= 1:
        return q_long
    deltas = []
    for i in range(1, n_probes):
        deltas.append((i + 1) // 2 * (1 if i % 2 else -1))  # +1, -1, +2, -2, ...
    parts = F.split(F.col("bucket"), r"\|")
    last = F.element_at(parts, hashes_per_table).cast("long")
    prefix = (
        F.concat_ws("|", F.slice(parts, 1, hashes_per_table - 1))
        if hashes_per_table > 1
        else F.lit("")
    )
    variants = F.array(
        F.col("bucket"),
        *[
            F.when(F.lit(hashes_per_table) > 1, F.concat(prefix, F.lit("|"), (last + d).cast("string")))
            .otherwise((last + d).cast("string"))
            for d in deltas
        ],
    )
    return q_long.select(
        "q_id", "table_idx", F.explode(variants).alias("bucket")
    ).distinct()


def lsh_candidates(
    index: LshIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """(q_id, vec_id) candidate set: OR-amplified bucket join. Dedup runs
    on the bare id pair — re-attaching the query embedding happens after,
    so the distinct never shuffles array payloads.

    The query side is hashed on the DRIVER (numpy — the query batch is
    driver-sized by design, same stance as knn_exact's broadcast): probing
    costs zero distributed stages beyond the bucket join itself. Only the
    base-side hash table is ever computed distributed."""
    import pandas as pd

    q_ids, Q = query_block(queries, vec_col)
    n = len(q_ids)
    h = index.hashes_per_table
    num_tables = index.projections.shape[0] // h
    H = np.floor((Q @ index.projections.T) / index.bucket_length).astype(np.int64)
    q_long = queries.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "q_id": np.repeat(q_ids, num_tables),
                "table_idx": np.tile(np.arange(num_tables, dtype=np.int32), n),
                "bucket": [
                    "|".join(map(str, H[i, t * h : (t + 1) * h]))
                    for i in range(n)
                    for t in range(num_tables)
                ],
            }
        ),
        "q_id long, table_idx int, bucket string",
    )
    q_long = _multiprobe_expand(q_long, index.hashes_per_table, n_probes)
    return (
        index.hash_table.join(F.broadcast(q_long), ["table_idx", "bucket"])
        .select("q_id", id_col)
        .distinct()
    )


def knn_lsh(
    index: LshIndex,
    base: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Probe: hash queries with the same projections, bucket-join against
    the hash table (OR over tables; n_probes>1 adds multi-probe neighbor
    buckets), exact re-rank candidates.

    Plan shape at scale: broadcast the hashed queries (small side) into
    the join, dedupe candidates, then one exact-distance pass over
    |candidates| rows — never over the full base."""
    cand = lsh_candidates(index, queries, id_col, vec_col, n_probes)
    qv = queries.select(F.col("q_id"), F.col(vec_col).alias("_q_emb"))
    scored = (
        cand.join(base.select(F.col(id_col), F.col(vec_col).alias("_b_emb")), id_col)
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            F.col(id_col).alias("vec_id"),
            squared_l2("_q_emb", "_b_emb").alias("dist"),
        )
    )
    return rank_topk(scored, k)


# ------------------------------------------------------------------ IVF


@dataclass
class IvfIndex:
    """Materialized IVF index: centroid matrix + centroid-assigned base.
    When `path` is set, `assigned` is backed by a parquet table
    PARTITIONED BY centroid_id, so probe filters prune whole partitions."""

    assigned: DataFrame  # base columns + centroid_id
    centroids: np.ndarray  # (nlist, dim)
    nlist: int
    path: str | None = None
    # the metric the blocking geometry was BUILT for: "l2" cells split
    # same-direction points by magnitude, cosine (spherical) cells
    # share direction — probing one with the other's metric silently
    # degrades partial-probe recall, so metric-aware consumers
    # (knn_join_ivf) validate against this field (ADVICE r15)
    metric: str = "l2"

    def close(self) -> None:
        """Release the assigned table if a caller persisted it (workload
        protocols build per-snapshot indexes and must not leak them)."""
        self.assigned.unpersist()


def materialize_ivf(index: IvfIndex, path: str) -> IvfIndex:
    """Write the assigned table PARTITIONED BY centroid_id and re-open it
    — the literal Spark rendering of 'nlist inverted lists on disk'
    (multi_tenant_script.py:94-99). After this, knn_ivf's centroid_id IN
    (probed) filter becomes parquet PartitionFilters: a probe of
    nprobe/nlist lists reads nprobe/nlist of the bytes."""
    spark = index.assigned.sparkSession
    # shuffle onto the list id before the partitioned write: the
    # assignment kernel's output is scan-partitioned, so a direct
    # partitionBy fans every task across every list directory —
    # ~tasks×nlist tiny files whose open overhead dominates the probe
    # scan (measured 13.5 s opens vs ~1 s decode at 1M×1024 on the
    # IVF-PQ sibling). One file per list; at 100 TB file count scales
    # with nlist × per-list shards, never × write parallelism.
    index.assigned.repartition(index.nlist, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)
    assigned = spark.read.parquet(path)
    return IvfIndex(assigned, index.centroids, index.nlist, path, index.metric)


_KMEANS_FAST_K = 4096  # strictly above every pinned shape (ksub=256, bench nlist=1024)


def _kmeans_fit(X: np.ndarray, k: int, seed: int = SEED, iters: int = 20) -> np.ndarray:
    """Plain numpy Lloyd's on a driver-side sample. The reference trains
    its coarse quantizer on a 100K sample (xt, multi_tenant_script.py:96)
    — sampling-to-driver IS the reference's own design; at 100 TB use
    df.sample() to bound the sample. Deterministic k-means++ init.

    Large-k fast path (k ≥ _KMEANS_FAST_K): the sequential k-means++
    loop is O(k·n·d) with k dependent draws — ~10 min of driver time at
    the XL join's nlist=10,000 (SCALING §7 pinned it as the 10M×10M
    build's dominant term) — and the per-cluster mean update is an
    O(k·n) Python loop per Lloyd iteration. At blocking-quantizer k the
    field's standard is seeded random init + Lloyd (FAISS Clustering
    trains coarse quantizers exactly so); the fast path uses a seeded
    no-replacement row draw, a row-chunked assignment GEMM (the full
    n×k distance block is 8 GB float64 at n=100k, k=10k), and
    bincount-based cluster means. The threshold sits strictly above
    every committed index shape (PQ ksub=256, the 1M bench family's
    nlist=1024), so all pinned recall/bench numbers keep their exact
    k-means++ centroids — only the XL nlist=10,000 builds switch."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    if k >= _KMEANS_FAST_K:
        return _kmeans_fit_large_k(X, k, rng, iters)
    # k-means++ seeding with the incremental nearest-centroid distance
    # (O(k·n·d), not O(k²·n·d) — matters for 256-centroid PQ codebooks);
    # identical draws to the naive recompute, so seeded results are stable.
    cents = [X[rng.integers(n)]]
    d2 = np.square(X - cents[0]).sum(-1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        new = X[rng.choice(n, p=probs)]
        cents.append(new)
        d2 = np.minimum(d2, np.square(X - new).sum(-1))
    C = np.array(cents)
    # Lloyd step in GEMM form (|x|² − 2XCᵀ + |c|²): the broadcasted
    # (x − c)² form materializes an n×k×d temporary — 5 GB/iteration at
    # n=20K, k=256, d=128, and it DOMINATED the 100K-base IVF-PQ build
    # (139 s → ~20 s). Same argmin up to fp summation order; seeded
    # init is unchanged, and every consumer is recall/floor-gated, not
    # value-hashed, so a last-ulp tie flip cannot break an oracle.
    x2 = np.square(X).sum(1, keepdims=True)
    for _ in range(iters):
        d2 = x2 - 2.0 * (X @ C.T) + np.square(C).sum(1)[None, :]
        assign = d2.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def _kmeans_fit_large_k(
    X: np.ndarray, k: int, rng: np.random.Generator, iters: int
) -> np.ndarray:
    """Seeded-random-init chunked Lloyd for blocking quantizers at
    k ≥ _KMEANS_FAST_K — see _kmeans_fit's docstring. Deterministic for
    a given (seed, k, X): the init is one no-replacement Generator draw
    and every Lloyd step is pure numpy.

    The assignment step is memory-bound, not GEMM-bound (the n×k
    distance block is 8 GB float64 at n=100k, k=10k — the first A/B
    draw measured 897 s at that shape with full-precision blocks), so
    it runs in float32 with in-place block arithmetic and drops the
    per-row |x|² term (constant within a row — cannot change the
    argmin). Centroid means still accumulate in float64 over the
    ORIGINAL rows (bincount weights), so assignment precision is the
    only fp concession — fine for a blocking quantizer whose consumers
    are recall/floor-gated (kmeans_ab_10k_r18.json records the quality
    stats; the pytest pin asserts SSE parity with the ++ path)."""
    n, d = X.shape
    k = min(k, n)
    X32 = X.astype(np.float32)
    C = X32[rng.choice(n, size=k, replace=False)].copy()
    # cap the chunked distance block ~800 MB float32
    chunk = max(1024, int(2e8) // max(k, 1))
    assign = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        c2 = np.square(C).sum(1)[None, :]
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            blk = X32[s:e] @ C.T
            blk *= -2.0
            blk += c2
            assign[s:e] = blk.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        # d bincount passes = O(n·d) C-speed scatter means (vs the
        # small-k path's O(k·n) Python mask loop per iteration)
        sums = np.stack(
            [np.bincount(assign, weights=X[:, j], minlength=k) for j in range(d)],
            axis=1,
        )
        nz = counts > 0
        C[nz] = (sums[nz] / counts[nz, None]).astype(np.float32)
    return C.astype(np.float64)


def build_ivf_index(
    base: DataFrame,
    nlist: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> IvfIndex:
    """Train centroids on a bounded sample, then assign every base row to
    its nearest centroid with a vectorized Arrow kernel. The assigned
    table is the index; at scale it is written
    .write.partitionBy('centroid_id') so probes prune partitions."""
    import pandas as pd

    # orderBy+limit = distributed top-N (deterministic sample; a bare
    # limit() is partition-order-dependent and would make centroids
    # unstable across runs)
    sample = base.select(id_col, vec_col).orderBy(id_col).limit(train_sample).toPandas()
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    C = _kmeans_fit(X, nlist, seed)
    bc = base.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (
                np.square(B).sum(1, keepdims=True)
                - 2.0 * (B @ Cb.T)
                + np.square(Cb).sum(1)[None, :]
            )
            pdf = pdf.assign(centroid_id=d2.argmin(axis=1).astype(np.int32))
            yield pdf

    from pyspark.sql.types import IntegerType, StructField, StructType

    in_schema = base.select(id_col, vec_col).schema
    out_schema = StructType(list(in_schema.fields) + [StructField("centroid_id", IntegerType())])
    assigned = base.select(id_col, vec_col).mapInPandas(assign, out_schema)
    return IvfIndex(assigned, C, nlist)


def knn_ivf(
    index: IvfIndex,
    queries: DataFrame,
    k: int = DEFAULT_K,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe nprobe nearest centroids per query (driver-side — queries
    and centroids are both driver-sized), prune the scan to the probed
    lists, and score with the same map-side GEMM/local-top-k kernel as
    knn_exact, masking each (row, query) pair whose centroid the query
    did not probe.

    Plan shape: the static IN-list on the union of probed centroids
    reaches the SCAN — on a partitionBy(centroid_id) table
    (materialize_ivf) it becomes PartitionFilters and unprobed lists are
    never read, the Spark rendering of 'nprobe of nlist inverted lists'
    (multi_tenant_script.py:98). After the pruned scan there are NO
    joins: one map stage emits local top-k, the only shuffle carries
    ≤ |parts|·|Q|·k rows into the final window."""
    q_ids, Q = query_block(queries, vec_col)
    probed, probe_set = probe_mask(nearest_lists(Q, index.centroids, nprobe), index.nlist)
    bc = pooled_broadcast(queries.sparkSession, (q_ids, Q, probed))

    def kernel(batches):
        bq_ids, bQ, bprobed = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.ascontiguousarray(np.stack(pdf[vec_col].to_numpy()), dtype=np.float64)
            scores = squared_l2_block(B, bQ)
            scores[~bprobed[pdf["centroid_id"].to_numpy(dtype=np.int64)]] = np.inf
            out = topk_canonical(scores, ids, bq_ids, k, ascending=True)
            if len(out):
                yield out

    local = (
        index.assigned.filter(F.col("centroid_id").isin(probe_set))
        .select(F.col(id_col), F.col(vec_col), F.col("centroid_id"))
        .mapInPandas(kernel, "q_id long, vec_id long, dist double")
    )
    return rank_topk(local, k)


def probe_mask(nearest: np.ndarray, nlist: int) -> tuple[np.ndarray, list[int]]:
    """(nlist × |Q| membership mask, sorted probed list ids) for the
    masked-GEMM IVF kernels: a (row, query) score is kept only when the
    row's list is one the query probes."""
    probed = np.zeros((nlist, len(nearest)), dtype=bool)
    probed[nearest, np.arange(len(nearest))[:, None]] = True
    return probed, np.unique(nearest).tolist()


def build_ivf_index_mllib(
    base: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
) -> IvfIndex:
    """T2 via MLlib: distributed KMeans over the FULL base table (no
    driver sample) — the path for bases too big to sample meaningfully.
    array_to_vector at the MLlib boundary only; the stored table stays
    ARRAY<FLOAT> (SURVEY §7 hard-part e). Assignment reuses the trained
    model's transform, then drops the UDT column immediately."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = base.select(
        id_col, vec_col, array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features")
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="_features", predictionCol="centroid_id").fit(feats)
    assigned = model.transform(feats).select(
        id_col, vec_col, F.col("centroid_id").cast("int")
    )
    C = np.array([np.asarray(c) for c in model.clusterCenters()])
    return IvfIndex(assigned, C, nlist)


# ------------------------------------------------------------- autotune


def autotune_lsh(
    base: DataFrame,
    queries: DataFrame,
    truth: DataFrame,
    target_recall: float = 0.7,
    k: int = DEFAULT_K,
    grid: list[tuple[float, int]] | None = None,
) -> tuple[dict, list[dict]]:
    """T4: sweep (bucket_length, num_tables), score recall against the
    exact oracle, return (best config clearing the target with the
    fewest tables, full trace). Mirrors MRPT's autotune-to-0.9
    (dynamic_script_mrpt.py:46)."""
    from cs598vectordb_spark.operators.metrics import recall_at_k

    grid = grid or [(0.1, 4), (0.1, 8), (0.25, 4), (0.25, 8), (0.5, 4), (0.5, 8), (1.0, 8)]
    n_q = queries.count()
    n_b = base.count()
    trace = []
    best = None
    for bucket_length, num_tables in grid:
        idx = build_lsh_index(base, bucket_length, num_tables)
        # hash table feeds both the selectivity count and the search —
        # persist so each grid point hashes the base exactly once
        idx.hash_table = idx.hash_table.persist()
        try:
            # true probe cost: fraction of the |Q|×|B| product actually scored
            n_cand = lsh_candidates(idx, queries).count()
            selectivity = n_cand / (n_q * n_b) if n_q and n_b else 1.0
            pred = knn_lsh(idx, base, queries, k)
            rec = recall_at_k(pred, truth, k).collect()[0][0]
        finally:
            idx.hash_table.unpersist()
        entry = {
            "bucket_length": bucket_length,
            "num_tables": num_tables,
            "recall": rec,
            "selectivity": round(selectivity, 4),
        }
        trace.append(entry)
        if rec >= target_recall and (best is None or selectivity < best["selectivity"]):
            best = entry
    return best or {}, trace


def autotune_ivf(
    base: DataFrame,
    queries: DataFrame,
    truth: DataFrame,
    target_recall: float = 0.9,
    k: int = DEFAULT_K,
    nlist: int = 16,
    nprobes: list[int] | None = None,
) -> tuple[dict, list[dict]]:
    """T4 for IVF: sweep nprobe on one built index, score recall against
    the exact oracle, return the cheapest probe count clearing the
    target (the reference's fixed nprobe=10-of-100 becomes a measured
    choice). Selectivity here is nprobe/nlist — the fraction of lists
    (and, on a materialized index, of bytes) each query touches."""
    from cs598vectordb_spark.operators.metrics import recall_at_k

    nprobes = nprobes or [1, 2, 4, 8, 12, 16]
    idx = build_ivf_index(base, nlist=nlist)
    idx.assigned = idx.assigned.persist()
    trace, best = [], None
    try:
        for npb in nprobes:
            if npb > nlist:
                continue
            rec = recall_at_k(knn_ivf(idx, queries, k, nprobe=npb), truth, k).collect()[0][0]
            entry = {"nlist": nlist, "nprobe": npb, "recall": rec, "selectivity": round(npb / nlist, 4)}
            trace.append(entry)
            if rec >= target_recall and best is None:
                best = entry
    finally:
        idx.assigned.unpersist()
    return best or {}, trace
