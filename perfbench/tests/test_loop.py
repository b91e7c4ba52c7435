"""The closed loop and answer checks against a fake probe (no Spark)."""

import threading

import numpy as np
import pandas as pd

import workloads as w
from gen import Inputs, Shape, ground_truth, mixture
from spans import Tracer

SHAPE = Shape(n_base=300, n_query=50, dim=8, shard_rows=300, rank=2)


def inputs() -> Inputs:
    base, queries = mixture(1, SHAPE)
    return Inputs("", "", base, queries, ground_truth(base, queries))


def exact_probe(inp: Inputs):
    def probe(qpdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for q_id, vec in zip(qpdf["q_id"], qpdf["embedding"]):
            d = np.square(inp.base.astype(np.float64) - np.asarray(vec, np.float64)).sum(1)
            for rank, i in enumerate(np.lexsort((np.arange(len(d)), d))[: w.K], 1):
                rows.append((q_id, rank, int(i), float(d[i])))
        return pd.DataFrame(rows, columns=["q_id", "rank", "vec_id", "dist"])

    return probe


def test_per_client_waves_send_every_request():
    inp = inputs()
    loop = w.closed_loop(exact_probe(inp), inp.queries, Tracer(False), 0, per_client=2)
    assert len(loop.requests) == 2 * w.CLIENTS
    assert sorted(r.rid for r in loop.requests) == list(range(2 * w.CLIENTS))
    c = w.check_loop(loop, inp)
    assert c.failed == 0 and c.bad_rows == 0 and c.recall == 1.0


def test_timed_loop_reaches_min_requests():
    inp = inputs()
    loop = w.closed_loop(exact_probe(inp), inp.queries, Tracer(False), 0, lambda e: True)
    assert len(loop.requests) >= w.MIN_REQUESTS
    assert set(loop.probe_wall) == {r.rid for r in loop.requests}


def test_wrong_distances_and_short_answers_are_caught():
    inp = inputs()
    asked = w.request_qids(3, len(inp.queries))
    good = exact_probe(inp)(w.request_frame(3, inp.queries))
    full, hits, bad = w.check_answers(good, inp, asked)
    assert (full, hits, bad) == (w.REQUEST_QUERIES, w.REQUEST_QUERIES * w.K, 0)
    wrong = good.assign(dist=good["dist"] + 1.0)
    assert w.check_answers(wrong, inp, asked)[2] == len(good)
    short = good[good["rank"] <= w.K - 1]
    assert w.check_answers(short, inp, asked)[0] == 0


def test_duplicate_ids_and_extra_rows_fail_the_query():
    inp = inputs()
    asked = w.request_qids(3, len(inp.queries))
    good = exact_probe(inp)(w.request_frame(3, inp.queries))
    first = good["q_id"] == asked[0]
    dup = good.copy()
    dup.loc[first & (dup["rank"] == 2), ["vec_id", "dist"]] = (
        dup.loc[first & (dup["rank"] == 1), ["vec_id", "dist"]].to_numpy()
    )
    assert w.check_answers(dup, inp, asked)[0] == w.REQUEST_QUERIES - 1
    extra = pd.concat([good, good[first & (good["rank"] == w.K)].assign(rank=w.K + 1)])
    assert w.check_answers(extra, inp, asked)[0] == w.REQUEST_QUERIES - 1


def swapping_probe(inp: Inputs):
    """Answers right, but hands the first two requests of a merged probe
    each other's rows (the batcher routes rows by the slot in q_id)."""
    probe = exact_probe(inp)

    def swapped(qpdf: pd.DataFrame) -> pd.DataFrame:
        out = probe(qpdf)
        slot = out["q_id"] // w._SLOT_MOD
        other = np.where(slot == 0, 1, np.where(slot == 1, 0, slot))
        return out.assign(q_id=out["q_id"] % w._SLOT_MOD + other * w._SLOT_MOD)

    return swapped


def test_swapped_answers_fail_both_requests():
    inp = inputs()
    a, b = (exact_probe(inp)(w.request_frame(rid, inp.queries)) for rid in (1, 2))
    loop = w.LoopResult(
        [w.Request(1, 0.0, 0.1, b), w.Request(2, 0.0, 0.1, a), w.Request(3, 0.0, 0.1, a)],
        0.1, {}, 3, 1,
    )
    c = w.check_loop(loop, inp)
    assert (c.attempted, c.failed) == (3, 3) and c.bad_rows == 3 * len(a)

    loop = w.closed_loop(swapping_probe(inp), inp.queries, Tracer(False), 0, per_client=2)
    c = w.check_loop(loop, inp)
    merged = loop.n_submits - loop.n_probe_calls  # >= 1 per probe carrying two requests
    assert merged > 0 and c.failed >= 2 and c.bad_rows > 0


def test_request_that_never_returns_is_attempted_and_failed(monkeypatch):
    monkeypatch.setattr(w, "REQUEST_TIMEOUT_S", 0.5)
    monkeypatch.setattr(w, "MAX_LOOP_SECONDS", 0.5)
    inp = inputs()
    release = threading.Event()
    probe = exact_probe(inp)

    def stuck(qpdf: pd.DataFrame) -> pd.DataFrame:
        release.wait(30)
        return probe(qpdf)

    try:
        loop = w.closed_loop(stuck, inp.queries, Tracer(False), 0, per_client=1)
    finally:
        release.set()
    c = w.check_loop(loop, inp)
    assert c.attempted == w.CLIENTS and c.failed == w.CLIENTS
