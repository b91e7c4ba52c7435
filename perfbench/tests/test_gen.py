import os

import numpy as np
import pandas as pd

from gen import (
    CorpusShape, Shape, documents, ground_truth, make_corpus, make_inputs, mixture, read_vecs,
    write_vecs,
)

SHAPE = Shape(n_base=600, n_query=40, dim=16, shard_rows=250, rank=4)


def test_same_seed_same_inputs(tmp_path):
    a = make_inputs(str(tmp_path / "a"), 7, SHAPE)
    b = make_inputs(str(tmp_path / "b"), 7, SHAPE)
    for name in ("queries.fvecs", "truth.ivecs"):
        with open(os.path.join(a.root, name), "rb") as fa, open(os.path.join(b.root, name), "rb") as fb:
            assert fa.read() == fb.read()
    assert sorted(os.listdir(a.base_dir)) == sorted(os.listdir(b.base_dir))
    np.testing.assert_array_equal(a.base, b.base)


def test_different_seed_different_inputs():
    base7, q7 = mixture(7, SHAPE)
    base8, q8 = mixture(8, SHAPE)
    assert not np.array_equal(base7, base8)
    assert not np.array_equal(q7, q8)


def test_shards_carry_their_start_id(tmp_path):
    inp = make_inputs(str(tmp_path), 3, SHAPE)
    assert sorted(os.listdir(inp.base_dir)) == [
        "part-000000000000.fvecs", "part-000000000250.fvecs", "part-000000000500.fvecs",
    ]
    assert inp.base.shape == (600, 16) and inp.base.dtype == np.float32


def test_cache_is_reused(tmp_path):
    first = make_inputs(str(tmp_path), 5, SHAPE)
    stamp = os.path.getmtime(os.path.join(first.root, "queries.fvecs"))
    again = make_inputs(str(tmp_path), 5, SHAPE)
    assert os.path.getmtime(os.path.join(again.root, "queries.fvecs")) == stamp


def test_ground_truth_is_exact_top_k():
    base, queries = mixture(11, SHAPE)
    gt = ground_truth(base, queries, k=10)
    X, Q = base.astype(np.float64), queries.astype(np.float64)
    for i, q in enumerate(Q):
        d = np.square(X - q).sum(1)
        expect = np.lexsort((np.arange(len(X)), d))[:10]
        np.testing.assert_array_equal(gt[i], expect)


def test_vecs_round_trip(tmp_path):
    rows = np.random.default_rng(0).standard_normal((5, 3)).astype(np.float32)
    write_vecs(str(tmp_path / "x.fvecs"), rows)
    raw = np.fromfile(str(tmp_path / "x.fvecs"), dtype=np.int32).reshape(5, 4)
    assert (raw[:, 0] == 3).all()
    np.testing.assert_array_equal(read_vecs(str(tmp_path / "x.fvecs"), np.float32), rows)


CORPUS = CorpusShape(docs_per_replica=60, replicas=3, vocab=300)


def test_same_seed_same_corpus(tmp_path):
    a = make_corpus(str(tmp_path / "a"), 7, CORPUS)
    b = make_corpus(str(tmp_path / "b"), 7, CORPUS)
    pd.testing.assert_frame_equal(a.docs, b.docs)
    assert not documents(8, CORPUS)["text"].equals(a.docs["text"])


def test_replicas_share_no_words():
    docs = documents(5, CORPUS)
    n = CORPUS.docs_per_replica
    vocab = [set(" ".join(docs["text"][r * n : (r + 1) * n]).lower().split()) for r in range(3)]
    assert not (vocab[0] & vocab[1]) and not (vocab[1] & vocab[2])
    # the same construction in every replica
    kinds = docs["kind"].to_numpy().reshape(3, n)
    assert (kinds == kinds[0]).all() and set(kinds[0]) == {"original", "near", "exact", "junk"}


def test_exact_copies_differ_only_in_case_and_spacing():
    docs = documents(5, CORPUS)
    norm = docs["text"].str.lower().str.split().str.join(" ")
    exact = docs[docs["kind"] == "exact"]
    assert len(exact) and norm[exact.index].isin(norm[docs["kind"] == "original"]).all()
    assert (exact["text"] != exact["text"].str.lower()).all()
