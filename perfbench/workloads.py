"""The benchmark's workloads, timed from outside the program.

Each workload times calls into the program's public functions and checks
every answer against ground truth computed by the benchmark (gen.py).

* serve: closed-loop clients send small top-10 requests through one
  serving.DynamicBatcher over a worker-served layered2 graph index.
* churn: update cycles on a path-backed IVF-PQ index (delete 10% of the
  rows by tombstone, re-insert them as a delta generation, compact at two
  generations), with two waves of the same read traffic after every
  write step.

A traced run also measures the layers no timed phase reaches: serve runs
knn.knn_exact over the query pool (recall must be 1.0), churn runs
dedup.minhash_lsh_dedup and textops.curate_corpus on the seeded corpus.
"""

from __future__ import annotations

import itertools
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections.abc import Iterator
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from gen import K, CorpusShape, Inputs, Shape, make_corpus, make_inputs
from host import RssSampler, calibration, descendants
from spans import Tracer
from stats import percentile


@dataclass(frozen=True)
class Scale:
    shape: Shape
    corpus: CorpusShape
    ivf_nlist: int
    ivf_m: int
    ivf_ksub: int


SCALES = {
    "full": Scale(Shape(10_000, 1_000, 128, 2_500), CorpusShape(500, 20),
                  ivf_nlist=16, ivf_m=16, ivf_ksub=32),
    # the test suite's smoke pass
    "tiny": Scale(Shape(2_000, 200, 128, 500), CorpusShape(100, 4),
                  ivf_nlist=8, ivf_m=8, ivf_ksub=16),
}

# Closed loop: each client sends its next request when the previous one
# returns. A merged probe costs ~1.5-2.5 s on a shared 4-core host, so 10
# clients return ~4-6 requests/s, and every request of a wave shares one
# probe's latency: percentiles move in whole waves. serve runs at least 6
# waves (60 requests), churn 2 waves after each of its 4 write steps per
# compaction period (80): both clear p75's sample rule in stats.py (p90
# would need 100 requests, ~25 s of loop per run).
CLIENTS = 10
REQUEST_QUERIES = 10
MIN_REQUESTS = 60
WAVES_PER_STEP = 2
# co-arrival window of the batcher (bench.py's multi-tenant block uses the
# same); at the 25 ms default a client that resubmits late splits a wave
# into two overlapping probes
BATCH_WINDOW_MS = 50.0
MAX_LOOP_SECONDS = 60.0
REQUEST_TIMEOUT_S = 30.0

# beam 64, not 32: at 32 the mixture of seed 407 gives recall 0.899,
# under serve's floor; at 64 it gives 0.929 (README, Inputs)
GRAPH_PROBE = dict(nprobe1=6, nprobe2=10, beam=64)
IVF_PROBE = dict(nprobe=6, mult=5)
RECALL_FLOOR = {"serve": 0.90, "churn": 0.70}
UPDATE_SHARE = 0.10
COMPACT_AT_GENERATIONS = 2  # auto_compact_ivfpq(max_generations=2)
DEDUP_THRESHOLD = 0.5  # a candidate pair is verified at this Jaccard
CURATE_LANGS = ("en", "es", "de")  # curate_corpus's default language filter

# batcher q_id = slot * 2**40 + q_id; the benchmark's q_id packs the
# request id above the query's index in the query pool
_SLOT_MOD = 1 << 40
_RID_SHIFT = 16
_POOL_MASK = (1 << _RID_SHIFT) - 1


def timed(tracer: Tracer, into: dict[str, list[float]], name: str, fn, group: bool = True):
    """fn() inside a span; its wall is appended to into[name]."""
    t = time.perf_counter()
    with tracer.span(name, group=group):
        out = fn()
    into.setdefault(name, []).append(time.perf_counter() - t)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ----------------------------------------------------------------- session


def start_session(work: str, tracer: Tracer):
    """Start the program's Spark session with every scratch path inside
    the benchmark's work directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")  # the session's 16g default fits no small host
    # every JVM, the spark-submit launcher too: scratch in the work dir and
    # no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )
    from cs598vectordb_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    tracer.sc = spark.sparkContext
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for pid in kids:  # Python workers, reparented once the JVM is gone
        deadline = time.time() + 30
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
            if time.time() > deadline - 10:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


# ------------------------------------------------------------ closed loop


@dataclass
class Request:
    rid: int
    start: float
    end: float | None = None  # None: submitted, never returned
    result: pd.DataFrame | None = None
    error: str | None = None


@dataclass
class LoopResult:
    requests: list[Request]
    wall_s: float
    probe_wall: dict[int, float]  # request id -> wall of the probe that carried it
    n_submits: int
    n_probe_calls: int


def request_qids(rid: int, n_queries: int) -> np.ndarray:
    """The q_ids of request `rid`: the request id above each query's
    index in the pool."""
    idx = (rid * REQUEST_QUERIES + np.arange(REQUEST_QUERIES)) % n_queries
    return (np.int64(rid) << _RID_SHIFT) | idx.astype(np.int64)


def request_frame(rid: int, queries: np.ndarray) -> pd.DataFrame:
    q_ids = request_qids(rid, len(queries))
    return pd.DataFrame({"q_id": q_ids, "embedding": list(queries[q_ids & _POOL_MASK])})


def closed_loop(
    probe, queries: np.ndarray, tracer: Tracer, rid0: int, done=None, per_client: int = 0
) -> LoopResult:
    """CLIENTS closed-loop clients send requests through one
    DynamicBatcher over `probe`: each sends `per_client` requests, or, with
    per_client=0, they run until done(elapsed_s) holds and MIN_REQUESTS
    have returned (or MAX_LOOP_SECONDS pass)."""
    from cs598vectordb_spark.operators.serving import DynamicBatcher

    probe_wall: dict[int, float] = {}

    def carried(qpdf: pd.DataFrame) -> pd.DataFrame:
        t = time.perf_counter()
        with tracer.span("serving.probe", group=True):
            out = probe(qpdf)
        wall = time.perf_counter() - t
        for rid in np.unique((qpdf["q_id"].to_numpy() % _SLOT_MOD) >> _RID_SHIFT):
            probe_wall[int(rid)] = wall
        return out

    batcher = DynamicBatcher(carried, max_wait_ms=BATCH_WINDOW_MS)
    requests: list[Request] = []
    stop = threading.Event()
    lock = threading.Lock()
    next_rid = [rid0]

    def client() -> None:
        sent = 0
        while not stop.is_set() and (not per_client or sent < per_client):
            with lock:
                rid = next_rid[0]
                next_rid[0] += 1
            qpdf = request_frame(rid, queries)
            req = Request(rid, time.perf_counter())
            requests.append(req)  # counted even if it never returns
            try:
                with tracer.span("serving.submit", request=rid):
                    req.result = batcher.submit(qpdf)
            except Exception as exc:  # a failed request is counted, not fatal
                req.error = repr(exc)
            req.end = time.perf_counter()
            sent += 1

    threads = [threading.Thread(target=client, daemon=True) for _ in range(CLIENTS)]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    while not per_client:
        elapsed = time.perf_counter() - t0
        if elapsed >= MAX_LOOP_SECONDS or (done(elapsed) and len(requests) >= MIN_REQUESTS):
            stop.set()
            break
        time.sleep(0.05)
    deadline = time.perf_counter() + REQUEST_TIMEOUT_S + MAX_LOOP_SECONDS
    for th in threads:
        th.join(timeout=max(deadline - time.perf_counter(), 0.0))
    ends = [r.end for r in requests if r.end is not None]
    wall = (max(ends) if ends else time.perf_counter()) - t0
    return LoopResult(requests, wall, probe_wall, batcher.n_submits, batcher.n_probe_calls)


# ----------------------------------------------------------------- checks


@dataclass
class Checked:
    attempted: int = 0
    failed: int = 0
    answered_queries: int = 0
    hits: int = 0
    bad_rows: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)

    @property
    def recall(self) -> float:
        return self.hits / max(self.answered_queries * K, 1)

    def op(self, ok: bool, what: str) -> None:
        """Count one checked operation; `what` says why it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def check_answers(res: pd.DataFrame, inputs: Inputs, q_ids: np.ndarray) -> tuple[int, int, int]:
    """(asked q_ids answered with exactly k distinct vectors, ground-truth
    hits, bad rows) for the answer to the queries `q_ids`; a q_id's low
    bits index the query pool. A row is bad when its q_id was not asked,
    its id is out of range, its distance is not the true one or its rank
    is out of distance order."""
    asked = set(q_ids.tolist())
    if not len(res):
        return 0, 0, 0
    res = res.sort_values(["q_id", "rank"])
    qid_all = res["q_id"].to_numpy(np.int64)
    ids = res["vec_id"].to_numpy(np.int64)
    dist = res["dist"].to_numpy(np.float64)
    ok = np.isin(qid_all, q_ids) & (ids >= 0) & (ids < len(inputs.base))
    bad = int((~ok).sum())
    q = qid_all[ok] & _POOL_MASK
    diff = inputs.queries[q].astype(np.float64) - inputs.base[ids[ok]].astype(np.float64)
    bad += int((~np.isclose(dist[ok], np.square(diff).sum(1), rtol=1e-4, atol=1e-3)).sum())
    full, hits = 0, 0
    for qi, start, count in zip(*np.unique(qid_all, return_index=True, return_counts=True)):
        top = ids[start : start + count]
        bad += int((np.diff(dist[start : start + count]) < -1e-9).sum())
        if int(qi) not in asked or count != K or len(set(top.tolist())) != K:
            continue
        full += 1
        hits += len(set(top.tolist()) & set(inputs.truth[qi & _POOL_MASK].tolist()))
    return full, hits, bad


def check_loop(loop: LoopResult, inputs: Inputs) -> Checked:
    """A request fails when it raised, never returned, took longer than
    REQUEST_TIMEOUT_S or did not answer each of its own queries with k
    distinct vectors; rows for queries it did not ask are bad rows."""
    c = Checked()
    for r in loop.requests:
        c.attempted += 1
        if r.error is not None or r.end is None or r.end - r.start > REQUEST_TIMEOUT_S:
            c.failed += 1
            continue
        full, hits, bad = check_answers(r.result, inputs, request_qids(r.rid, len(inputs.queries)))
        c.bad_rows += bad
        if full < REQUEST_QUERIES or bad:
            c.failed += 1
            continue
        c.answered_queries += full
        c.hits += hits
        c.latencies_ms.append(1000.0 * (r.end - r.start))
    return c


def query_pool(queries: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {"q_id": np.arange(len(queries), dtype=np.int64), "embedding": list(queries)}
    )


def pool_recall(probe, inputs: Inputs, c: Checked, what: str) -> float:
    """Recall@10 of one probe over the whole query pool; the probe counts
    as one more checked operation."""
    pool = query_pool(inputs.queries)
    full, hits, bad = check_answers(probe(pool), inputs, pool["q_id"].to_numpy())
    c.op(full == len(pool), f"{what}: {len(pool) - full} queries without a full answer")
    c.bad_rows += bad
    return hits / (len(pool) * K)


def loop_metrics(loop: LoopResult, c: Checked) -> dict:
    return {
        "qps": c.answered_queries / loop.wall_s,
        "latency_p50_ms": percentile(c.latencies_ms, 50),
        "latency_p75_ms": percentile(c.latencies_ms, 75),
    }


# ------------------------------------------------------------ tracing aids


class _TimedCollect:
    """Stands in for the probe frame a probe fn collects, so the plan call
    and the action get separate spans."""

    def __init__(self, df, tracer: Tracer, name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()


class patched:
    """Replace module.attr with a span-recording wrapper while active.
    Probe fns import their kernel when they are created, so a probe fn
    created inside this block records plan/exec spans."""

    def __init__(self, module, attr: str, tracer: Tracer, layer: str):
        self.module, self.attr, self.real = module, attr, getattr(module, attr)
        real = self.real

        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}.plan"):
                df = real(*args, **kwargs)
            return _TimedCollect(df, tracer, f"{layer}.exec")

        self.wrapper = wrapper

    def __enter__(self):
        setattr(self.module, self.attr, self.wrapper)
        return self

    def __exit__(self, *exc):
        setattr(self.module, self.attr, self.real)


def mean_ms(spans) -> float:
    return 1000.0 * sum(s.duration for s in spans) / max(len(spans), 1)


def traced_loop_layers(run: Run, tloop: LoopResult, inputs: Inputs, checked: Checked,
                       qps: float) -> dict:
    """Check the traced phase's answers into `checked` and derive the
    request-level layer metrics both workloads report."""
    tcheck = check_loop(tloop, inputs)
    checked.attempted += tcheck.attempted
    checked.failed += tcheck.failed
    checked.bad_rows += tcheck.bad_rows
    run.tracer.resolve_counts()
    probes = run.tracer.by_name("serving.probe")
    ok = [
        r for r in tloop.requests
        if r.error is None and r.end is not None and r.rid in tloop.probe_wall
    ]
    waits = [1000.0 * (r.end - r.start - tloop.probe_wall[r.rid]) for r in ok]
    n_req = max(len(tloop.requests), 1)
    n_probes = max(tloop.n_probe_calls, 1)
    return {
        "session.jobs_per_request": sum(s.jobs for s in probes) / n_req,
        "session.tasks_per_request": sum(s.tasks for s in probes) / n_req,
        "serving.queue_wait_ms": float(np.mean(waits)) if waits else 0.0,
        "serving.queries_per_probe": tloop.n_submits * REQUEST_QUERIES / n_probes,
        "serving.submits_per_probe": tloop.n_submits / n_probes,
        "trace.overhead_share": 1.0 - (tcheck.answered_queries / tloop.wall_s) / qps,
    }


def merged_queries(inputs: Inputs) -> pd.DataFrame:
    """One merged probe's worth of queries."""
    return query_pool(inputs.queries).head(CLIENTS * REQUEST_QUERIES)


def spark_queries(spark, qpdf: pd.DataFrame):
    return spark.createDataFrame(qpdf, schema="q_id long, embedding array<float>")


def exact_layers(run: Run, spark, inputs: Inputs, checked: Checked) -> dict:
    """knn.knn_exact over the whole query pool against a fresh read of the
    base; it must reach recall 1.0."""
    from cs598vectordb_spark.operators.knn import knn_exact
    from cs598vectordb_spark.sources.vecfiles import read_fvecs

    base = read_fvecs(spark, inputs.base_dir)
    pool = query_pool(inputs.queries)
    qdf = spark_queries(spark, pool)
    res = run.timed("knn.exact", lambda: knn_exact(base, qdf, k=K).toPandas())
    full, hits, bad = check_answers(res, inputs, pool["q_id"].to_numpy())
    recall = hits / (len(pool) * K)
    checked.bad_rows += bad
    checked.op(full == len(pool) and recall == 1.0, f"knn_exact recall {recall}")
    exact_s = run.took("knn.exact")
    n, dim = inputs.base.shape
    return {"knn.exact_s": exact_s, "knn.gflops": 2.0 * n * len(pool) * dim / exact_s / 1e9}


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def text_layers(run: Run, spark, checked: Checked) -> dict:
    """dedup.minhash_lsh_dedup then textops.curate_corpus on the seeded
    corpus. Every verified pair is re-checked against the exact shingle
    Jaccard, every planted exact-duplicate pair must come back with
    Jaccard 1.0, and the curated mix must hold exactly the documents the
    construction keeps."""
    import cs598vectordb_spark.operators.dedup as dedup
    import cs598vectordb_spark.operators.textops as textops
    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics

    corpus = make_corpus(os.path.join(run.work, "inputs"), run.seed, run.scale.corpus)
    docs = spark.read.parquet(corpus.path).select("doc_id", "lang", "text")
    got = {}

    def minhash():
        got["pairs"] = run.timed("dedup.minhash", lambda: dedup.minhash_lsh_dedup(docs))
        return got["pairs"]

    def curate():
        got["mix"] = run.timed("textops.curate", lambda: textops.curate_corpus(docs).toPandas())
        return spark.createDataFrame(got["mix"])  # counting local rows shuffles nothing

    pm_dedup = executed_plan_metrics(minhash, spark)
    pm_curate = executed_plan_metrics(curate, spark)
    pairs, mix, truth = got["pairs"].toPandas(), got["mix"], corpus.docs

    text = dict(zip(truth["doc_id"], truth["text"]))
    verified = pairs[pairs["jaccard"] >= DEDUP_THRESHOLD]
    low = sum(
        jaccard(shingles(text[a]), shingles(text[b])) < DEDUP_THRESHOLD - 1e-6
        for a, b in zip(verified["doc_a"], verified["doc_b"])
    )
    checked.op(low == 0, f"dedup: {low} verified pairs below Jaccard {DEDUP_THRESHOLD}")
    norm = truth.assign(norm=truth["text"].str.lower().str.split().str.join(" "))
    groups = norm.groupby("norm")["doc_id"].agg(lambda ids: sorted(ids))
    found = dict(zip(zip(pairs["doc_a"], pairs["doc_b"]), pairs["jaccard"]))
    missed = sum(
        found.get(pair) != 1.0 for ids in groups for pair in itertools.combinations(ids, 2)
    )
    checked.op(missed == 0, f"dedup: {missed} exact-duplicate pairs missing")

    kept = truth[
        truth["doc_id"].isin([ids[0] for ids in groups])
        & truth["lang"].isin(CURATE_LANGS)
        & (truth["kind"] != "junk")
    ]
    want = kept.assign(n_tokens=kept["text"].str.split().str.len()).groupby("lang").agg(
        n_docs=("doc_id", "size"), total_tokens=("n_tokens", "sum")
    )
    have = mix.groupby("lang")[["n_docs", "total_tokens"]].sum()
    conserved = have.sort_index().astype(np.int64).equals(want.sort_index().astype(np.int64))
    checked.op(
        conserved and set(mix["split"]) <= {"train", "val", "test"},
        f"curate: mix {have.to_dict()} != constructed {want.to_dict()}",
    )
    return {
        "dedup.minhash_s": run.took("dedup.minhash"),
        "dedup.candidate_pairs": float(len(pairs)),
        "dedup.verified_pairs": float(len(verified)),
        "dedup.verify_yield": len(verified) / max(len(pairs), 1),
        "dedup.shuffle_bytes": float(pm_dedup["shuffle_bytes_written"]),
        "textops.curate_s": run.took("textops.curate"),
        "textops.shuffle_bytes": float(pm_curate["shuffle_bytes_written"]),
    }


# --------------------------------------------------------------- workloads


class Run:
    """State shared by one workload run: inputs, tracer, timings."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, scale: str):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.scale = SCALES[scale]
        self.tracer = Tracer(enabled=trace)
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.timings: dict[str, list[float]] = {}
        self.detail: dict = {}

    def timed(self, name: str, fn, group: bool = True):
        return timed(self.tracer, self.timings, name, fn, group)

    def took(self, name: str) -> float:
        return self.timings[name][-1]

    def load_base(self, spark, inputs: Inputs):
        from cs598vectordb_spark.sources.vecfiles import read_fvecs

        def read():
            base = read_fvecs(spark, inputs.base_dir).persist()
            base.count()
            return base

        return self.timed("sources.read", read)


def serve(run: Run, inputs: Inputs, spark, t_setup: float) -> tuple[dict, dict, Checked]:
    import cs598vectordb_spark.operators.graph as graph
    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics
    from cs598vectordb_spark.operators.serving import probe_fn_for

    base = run.load_base(spark, inputs)
    index_path = os.path.join(run.run_dir, "graph2")
    g = run.timed(
        "graph.build", lambda: graph.build_layered_graph2(base, nlist1=None, nlist2=None)
    )

    def materialize():
        graph.materialize_layered2(g, index_path, pinned=False)
        g.close()
        return graph.open_layered2(spark, index_path, served=True)

    index = run.timed("graph.materialize", materialize)
    base.unpersist()
    probe = probe_fn_for(spark, "graph2", index, k=K, **GRAPH_PROBE)
    warm = merged_queries(inputs)
    run.timed("warmup", lambda: probe(warm), group=False)
    setup_s = time.perf_counter() - t_setup

    loop = closed_loop(probe, inputs.queries, Tracer(False), 0, lambda e: e >= run.seconds)
    checked = check_loop(loop, inputs)
    e2e = {
        "setup_s": setup_s,
        **loop_metrics(loop, checked),
        "recall_at_10": checked.recall,
        "index_bytes_per_vector_byte": dir_bytes(index_path) / inputs.base.nbytes,
    }
    run.detail.update(
        requests=len(loop.requests), probe_calls=loop.n_probe_calls,
        probe_walls_s=sorted(set(loop.probe_wall.values())),
    )
    layers = {}
    if run.trace:
        with patched(graph, "knn_graph_layered2", run.tracer, "graph"):
            traced_probe = probe_fn_for(spark, "graph2", index, k=K, **GRAPH_PROBE)
        tloop = closed_loop(
            traced_probe, inputs.queries, run.tracer, 1 << 20, lambda e: e >= run.seconds
        )
        layers = traced_loop_layers(run, tloop, inputs, checked, e2e["qps"])
        merged = spark_queries(spark, merged_queries(inputs))
        pm = executed_plan_metrics(
            lambda: graph.knn_graph_layered2(index, merged, K, **GRAPH_PROBE), spark
        )
        layers.update(exact_layers(run, spark, inputs, checked))
        layers.update(
            {
                "graph.build_s": run.took("graph.build"),
                "graph.materialize_s": run.took("graph.materialize"),
                "graph.plan_ms": mean_ms(run.tracer.by_name("graph.plan")),
                "graph.exec_ms": mean_ms(run.tracer.by_name("graph.exec")),
                "graph.shuffle_bytes": float(pm["shuffle_bytes_written"]),
            }
        )
    return e2e, layers, checked


@dataclass
class WriteStats:
    rows: int = 0  # rows deleted + rows inserted
    user_bytes: int = 0  # id + vector bytes of the inserted rows
    bytes_written: int = 0  # delta and compacted layouts written
    index_bytes: list[int] = field(default_factory=list)  # live layout, per cycle
    op_s: dict[str, list[float]] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(sum(v) for v in self.op_s.values())

    def mean_s(self, name: str) -> float:
        v = self.op_s.get(name, [])
        return sum(v) / len(v) if v else 0.0


def merge_loops(loops: list[LoopResult]) -> LoopResult:
    return LoopResult(
        [r for lp in loops for r in lp.requests],
        sum(lp.wall_s for lp in loops),
        {k: v for lp in loops for k, v in lp.probe_wall.items()},
        sum(lp.n_submits for lp in loops),
        sum(lp.n_probe_calls for lp in loops),
    )


def churn(run: Run, inputs: Inputs, spark, t_setup: float) -> tuple[dict, dict, Checked]:
    import cs598vectordb_spark.operators.ivfpq as ivfpq
    from pyspark.sql import functions as F

    from cs598vectordb_spark.functions.planmetrics import executed_plan_metrics
    from cs598vectordb_spark.operators.serving import probe_fn_for

    base = run.load_base(spark, inputs)
    sc = run.scale
    n, dim = inputs.base.shape
    index = run.timed(
        "ivfpq.build",
        lambda: ivfpq.build_ivfpq(
            base, nlist=sc.ivf_nlist, m=sc.ivf_m, ksub=sc.ivf_ksub,
            keep_vectors=True, path=os.path.join(run.run_dir, "ivf", "idx"),
        ),
    )
    live = [index]  # the index the next probe reads
    gens_at_probe: list[int] = []

    def probe(qpdf: pd.DataFrame) -> pd.DataFrame:
        gens_at_probe.append(len(ivfpq.delta_generations(live[0].path)))
        return probe_fn_for(spark, "ivfpq", live[0], k=K, **IVF_PROBE)(qpdf)

    warm = merged_queries(inputs)
    run.timed("warmup", lambda: probe(warm), group=False)
    setup_s = time.perf_counter() - t_setup

    def cycle(tracer: Tracer, ws: WriteStats, seed: list[int]) -> Iterator[None]:
        """One update cycle; yields after each write step, where the
        caller reads."""
        ids = np.sort(
            np.random.default_rng(seed).choice(n, int(n * UPDATE_SHARE), replace=False)
        ).astype(np.int64)
        ids_df = spark.createDataFrame(pd.DataFrame({"vec_id": ids}))
        live[0] = timed(
            tracer, ws.op_s, "ivfpq.delete",
            lambda: ivfpq.delete_from_ivfpq(live[0], None, deleted=ids_df),
        )
        yield
        rows = base.join(F.broadcast(ids_df), "vec_id", "left_semi")
        live[0] = timed(
            tracer, ws.op_s, "ivfpq.insert", lambda: ivfpq.insert_into_ivfpq(live[0], rows)
        )
        ws.bytes_written += dir_bytes(ivfpq.delta_generations(live[0].path)[-1])
        if len(ivfpq.delta_generations(live[0].path)) >= COMPACT_AT_GENERATIONS:
            live[0], _ = timed(
                tracer, ws.op_s, "ivfpq.compact",
                lambda: ivfpq.auto_compact_ivfpq(live[0], max_generations=COMPACT_AT_GENERATIONS),
            )
            ws.bytes_written += dir_bytes(live[0].path)
        ws.rows += 2 * len(ids)
        ws.user_bytes += len(ids) * (8 + 4 * dim)
        ws.index_bytes.append(
            dir_bytes(live[0].path)
            + sum(dir_bytes(d) for d in ivfpq.delta_generations(live[0].path))
        )
        yield

    def phase(tracer: Tracer, tag: int, rid0: int) -> tuple[LoopResult, WriteStats]:
        """Whole compaction periods of update cycles until `seconds` have
        passed; WAVES_PER_STEP waves of reads after every write step."""
        ws, waves, c = WriteStats(), [], 0
        t0 = time.perf_counter()
        while c == 0 or c % COMPACT_AT_GENERATIONS or time.perf_counter() - t0 < run.seconds:
            for _ in cycle(tracer, ws, [run.seed, tag, c]):
                rid = rid0 + len(waves) * CLIENTS * WAVES_PER_STEP
                waves.append(
                    closed_loop(probe, inputs.queries, tracer, rid, per_client=WAVES_PER_STEP)
                )
            c += 1
        return merge_loops(waves), ws

    loop, ws = phase(Tracer(False), 0, 0)
    checked = check_loop(loop, inputs)
    e2e = {
        "setup_s": setup_s,
        **loop_metrics(loop, checked),
        "recall_at_10": pool_recall(probe, inputs, checked, "settled index"),
        "index_bytes_per_vector_byte": float(np.mean(ws.index_bytes)) / inputs.base.nbytes,
    }
    run.detail.update(
        requests=len(loop.requests), probe_calls=loop.n_probe_calls,
        probe_walls_s=sorted(set(loop.probe_wall.values())),
        cycles=len(ws.index_bytes), write_s=ws.wall_s,
    )
    layers = {}
    if run.trace:
        with patched(ivfpq, "knn_ivfpq_refined", run.tracer, "ivfpq"):
            tloop, tws = phase(run.tracer, 1, 1 << 20)
        layers = traced_loop_layers(run, tloop, inputs, checked, e2e["qps"])
        merged = spark_queries(spark, merged_queries(inputs))
        pm = executed_plan_metrics(
            lambda: ivfpq.knn_ivfpq_refined(live[0], None, merged, k=K, **IVF_PROBE), spark
        )
        layers.update(text_layers(run, spark, checked))
        layers.update({
            "ivfpq.build_s": run.took("ivfpq.build"),
            "ivfpq.probe_ms": mean_ms(run.tracer.by_name("ivfpq.plan"))
            + mean_ms(run.tracer.by_name("ivfpq.exec")),
            "ivfpq.scan_rows_per_probe": float(pm["scan_output_rows"]),
            "ivfpq.generations_at_probe": float(np.mean(gens_at_probe)),
            "ivfpq.delete_s": tws.mean_s("ivfpq.delete"),
            "ivfpq.insert_s": tws.mean_s("ivfpq.insert"),
            "ivfpq.compact_s": tws.mean_s("ivfpq.compact"),
            "ivfpq.compactions": float(len(tws.op_s.get("ivfpq.compact", []))),
            "ivfpq.bytes_written_per_user_byte": tws.bytes_written / max(tws.user_bytes, 1),
            "ivfpq.update_rows_per_s": tws.rows / max(tws.wall_s, 1e-9),
        })
    return e2e, layers, checked


WORKLOADS = {"serve": serve, "churn": churn}

E2E_UNITS = {
    "setup_s": "s",
    "qps": "queries/s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    "recall_at_10": "ratio",
    "index_bytes_per_vector_byte": "ratio",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.jobs_per_request": "count",
    "session.tasks_per_request": "count",
    "session.failed_tasks": "count",
    "sources.read_s": "s",
    "sources.rows_per_s": "rows/s",
    "graph.build_s": "s",
    "graph.materialize_s": "s",
    "graph.plan_ms": "ms",
    "graph.exec_ms": "ms",
    "graph.shuffle_bytes": "bytes",
    "knn.exact_s": "s",
    "knn.gflops": "GFLOP/s",
    "serving.queue_wait_ms": "ms",
    "serving.queries_per_probe": "count",
    "serving.submits_per_probe": "count",
    "ivfpq.build_s": "s",
    "ivfpq.probe_ms": "ms",
    "ivfpq.scan_rows_per_probe": "count",
    "ivfpq.generations_at_probe": "count",
    "ivfpq.delete_s": "s",
    "ivfpq.insert_s": "s",
    "ivfpq.compact_s": "s",
    "ivfpq.compactions": "count",
    "ivfpq.bytes_written_per_user_byte": "ratio",
    "ivfpq.update_rows_per_s": "rows/s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "textops.curate_s": "s",
    "textops.shuffle_bytes": "bytes",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
    "trace.self_time_share": "ratio",
}


def run_workload(name: str, work: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    """Run one workload; returns the result object the CLI prints plus a
    `record` entry with the host-noise record and run detail."""
    run = Run(work, seed, seconds, trace, scale)
    t_start = time.perf_counter()
    host_start = calibration()
    inputs = make_inputs(os.path.join(work, "inputs"), seed, run.scale.shape)
    os.makedirs(run.run_dir, exist_ok=True)
    spark = None
    rss = RssSampler()
    try:
        with rss if trace else nullcontext():
            t_setup = time.perf_counter()
            spark = run.timed("session.start", lambda: start_session(work, run.tracer), group=False)
            e2e, layers, checked = WORKLOADS[name](run, inputs, spark, t_setup)
        wall = time.perf_counter() - t_start
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run.run_dir, ignore_errors=True)
    floor = RECALL_FLOOR[name]
    correct = (
        checked.failed == 0 and checked.bad_rows == 0 and e2e["recall_at_10"] >= floor
    )
    spans = run.tracer.summary(wall)
    if trace:
        metrics = {key: 0.0 for key in LAYER_UNITS}
        metrics.update(layers)
        metrics.update(
            {
                "session.start_s": run.took("session.start"),
                "session.failed_tasks": float(
                    sum(s.failed_tasks for s in run.tracer.spans)
                ),
                "sources.read_s": run.took("sources.read"),
                "sources.rows_per_s": len(inputs.base) / run.took("sources.read"),
                "proc.peak_rss_mb": rss.peak_mb,
                "trace.self_time_share": spans["max_thread_self_share"],
            }
        )
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    record = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "host": {"start": host_start, "end": calibration()},
        "detail": {
            **run.detail, "e2e": e2e, "recall_floor": floor, "bad_rows": checked.bad_rows,
            "problems": checked.problems,
        },
    }
    if trace:
        record["spans"] = spans
    return {
        "correct": bool(correct),
        "attempted": int(checked.attempted),
        "failed": int(checked.failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        "record": record,
        "tracer": run.tracer,
    }
