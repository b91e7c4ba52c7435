"""Seeded inputs for the benchmark: SIFT-shaped fvecs/ivecs files and a
document corpus.

Everything the program reads is a file made here from the workload seed:
sharded base vectors (`part-<start12>.fvecs`, the id-from-file-name
convention of `sources/vecfiles.py`), fresh query vectors drawn from the
same mixture, and the top-10 ground truth, computed here in float64 numpy
and stored as ivecs. The program never produces its own answer key.

The base is a Gaussian mixture with about n/2000 centres. Each centre has
its own low-rank covariance plus a little isotropic noise, so the data has
the low intrinsic dimension of real descriptor sets such as SIFT, rather
than being isotropic noise on which no approximate index does well.

The document corpus is one seed replica of original, near-duplicate,
exact-duplicate (case and whitespace changed) and junk documents, copied
into disjoint vocabularies: replica r suffixes every word with its own
two letters, so within-replica Jaccard is unchanged and cross-replica
overlap is zero. Each document keeps the kind it was made as, so the
benchmark can check the program's dedup and curation against the
construction.

Inputs are cached on disk by (seed, shape): a directory is reused only when
its marker, written last, is present.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

K = 10


@dataclass(frozen=True)
class Shape:
    n_base: int
    n_query: int
    dim: int
    shard_rows: int
    rank: int = 16  # intrinsic dimension of each mixture component

    @property
    def key(self) -> str:
        return f"n{self.n_base}-q{self.n_query}-d{self.dim}-sh{self.shard_rows}-r{self.rank}"


@dataclass
class Inputs:
    root: str
    base_dir: str
    base: np.ndarray  # (n_base, dim) float32
    queries: np.ndarray  # (n_query, dim) float32
    truth: np.ndarray  # (n_query, K) int32 ids, nearest first


def mixture(seed: int, shape: Shape) -> tuple[np.ndarray, np.ndarray]:
    """(base, queries) float32 draws from one seeded mixture."""
    rng = np.random.default_rng(seed)
    d, r = shape.dim, shape.rank
    n_centers = max(2, round(shape.n_base / 2000))
    centers = rng.normal(0.0, 8.0, (n_centers, d))
    bases = rng.normal(0.0, 1.0, (n_centers, d, r)) * rng.uniform(
        1.0, 3.0, (n_centers, 1, r)
    )

    def draw(n: int) -> np.ndarray:
        labels = rng.integers(0, n_centers, n)
        z = rng.normal(0.0, 1.0, (n, r))
        out = rng.normal(0.0, 0.3, (n, d))
        for c in range(n_centers):
            sel = labels == c
            out[sel] += centers[c] + z[sel] @ bases[c].T
        return out.astype(np.float32)

    return draw(shape.n_base), draw(shape.n_query)


def ground_truth(base: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """Exact top-k ids by squared L2 in float64, ties broken by lower id."""
    X = base.astype(np.float64)
    sq_x = np.square(X).sum(1)
    out = np.empty((len(queries), k), dtype=np.int32)
    for s in range(0, len(queries), 256):
        Q = queries[s : s + 256].astype(np.float64)
        D = np.square(Q).sum(1)[:, None] - 2.0 * (Q @ X.T) + sq_x[None, :]
        part = np.argpartition(D, k, axis=1)[:, : k + 1]
        for i, row in enumerate(part):
            order = np.lexsort((row, D[i, row]))
            out[s + i] = row[order][:k]
    return out


def write_vecs(path: str, rows: np.ndarray) -> None:
    """fvecs (float32 rows) or ivecs (int32 rows): per row, int32 dim then
    the values."""
    n, d = rows.shape
    buf = np.empty((n, d + 1), dtype=np.int32)
    buf[:, 0] = d
    buf[:, 1:] = rows.view(np.int32)
    buf.tofile(path)


def read_vecs(path: str, dtype) -> np.ndarray:
    raw = np.fromfile(path, dtype=np.int32)
    d = int(raw[0])
    return raw.reshape(-1, d + 1)[:, 1:].copy().view(dtype)


def cached(root: str, key: str, write) -> None:
    """Run write(root) unless root holds the marker of a finished write."""
    marker = os.path.join(root, "_OK")
    if os.path.exists(marker):
        return
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    write(root)
    with open(marker, "w") as fh:
        fh.write(key)


def make_inputs(cache_dir: str, seed: int, shape: Shape) -> Inputs:
    root = os.path.join(cache_dir, f"{shape.key}-s{seed}")
    base_dir = os.path.join(root, "base")

    def write(root: str) -> None:
        os.makedirs(base_dir)
        base, queries = mixture(seed, shape)
        for start in range(0, shape.n_base, shape.shard_rows):
            write_vecs(
                os.path.join(base_dir, f"part-{start:012d}.fvecs"),
                base[start : start + shape.shard_rows],
            )
        write_vecs(os.path.join(root, "queries.fvecs"), queries)
        write_vecs(os.path.join(root, "truth.ivecs"), ground_truth(base, queries))

    cached(root, shape.key, write)
    base = np.concatenate(
        [
            read_vecs(os.path.join(base_dir, f), np.float32)
            for f in sorted(os.listdir(base_dir))
        ]
    )
    return Inputs(
        root,
        base_dir,
        base,
        read_vecs(os.path.join(root, "queries.fvecs"), np.float32),
        read_vecs(os.path.join(root, "truth.ivecs"), np.int32),
    )


# ------------------------------------------------------------------ corpus

LANGS = ("en", "es", "de", "fr", "it")
JUNK_CHARS = np.array(list("0123456789.,;:!?"))


@dataclass(frozen=True)
class CorpusShape:
    docs_per_replica: int
    replicas: int
    vocab: int = 2_000

    @property
    def key(self) -> str:
        return f"docs{self.docs_per_replica}-x{self.replicas}-v{self.vocab}"


def seed_replica(seed: int, shape: CorpusShape) -> pd.DataFrame:
    """(lang, kind, tokens) for one replica: 70% originals of 60-140
    words, 15% near-duplicates (2-12% of an original's words replaced),
    5% exact duplicates (an original upper-cased) and 10% junk (5-15
    tokens of digits and punctuation, far below any quality floor)."""
    rng = np.random.default_rng([seed, 1])  # a stream apart from the vectors'
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = dict.fromkeys(
        "".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(2 * shape.vocab)
    )
    vocab = np.array(list(words)[: shape.vocab])
    n = shape.docs_per_replica
    n_near, n_exact, n_junk = int(0.15 * n), int(0.05 * n), int(0.10 * n)
    n_orig = n - n_near - n_exact - n_junk
    rows = []
    for _ in range(n_orig):
        rows.append((str(rng.choice(LANGS)), "original",
                     list(rng.choice(vocab, rng.integers(60, 141)))))
    for _ in range(n_near):
        lang, _, toks = rows[rng.integers(n_orig)]
        toks = list(toks)
        for i in rng.choice(len(toks), max(1, round(rng.uniform(0.02, 0.12) * len(toks))),
                            replace=False):
            toks[i] = str(rng.choice(vocab))
        rows.append((lang, "near", toks))
    for _ in range(n_exact):
        lang, _, toks = rows[rng.integers(n_orig)]
        rows.append((lang, "exact", [t.upper() for t in toks]))
    for _ in range(n_junk):
        rows.append((str(rng.choice(LANGS)), "junk", [
            "".join(rng.choice(JUNK_CHARS, rng.integers(2, 7)))
            for _ in range(rng.integers(5, 16))
        ]))
    order = rng.permutation(len(rows))
    return pd.DataFrame([rows[i] for i in order], columns=["lang", "kind", "tokens"])


def documents(seed: int, shape: CorpusShape) -> pd.DataFrame:
    """(doc_id, lang, kind, text): the seed replica copied into
    `replicas` disjoint vocabularies; an exact duplicate's text also
    carries doubled spaces."""
    one = seed_replica(seed, shape)
    parts = []
    for r in range(shape.replicas):
        tag = "x" + chr(ord("a") + r)
        sep = one["kind"].map(lambda k: "  " if k == "exact" else " ")
        text = [s.join(t + tag for t in toks) for s, toks in zip(sep, one["tokens"])]
        parts.append(pd.DataFrame({
            "doc_id": np.arange(len(one), dtype=np.int64) + r * len(one),
            "lang": one["lang"], "kind": one["kind"], "text": text,
        }))
    return pd.concat(parts, ignore_index=True)


@dataclass
class Corpus:
    path: str  # documents.parquet: doc_id, lang, kind, text
    docs: pd.DataFrame


def make_corpus(cache_dir: str, seed: int, shape: CorpusShape) -> Corpus:
    assert shape.replicas <= 26
    root = os.path.join(cache_dir, f"{shape.key}-s{seed}")
    path = os.path.join(root, "documents.parquet")
    cached(root, shape.key, lambda _: documents(seed, shape).to_parquet(path, index=False))
    return Corpus(path, pd.read_parquet(path))
