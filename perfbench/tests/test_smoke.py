"""Tiny-size pass of every workload through the command line, plus the
contract checks on BENCHMARK.json and on a checkout without the program.
Each workload starts Spark; the module takes a few minutes."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_code():
    s = spec()
    assert {w["name"] for w in s["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == LAYER_UNITS
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_traced_run(workload):
    p = subprocess.run(
        [*RUN, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1",
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out, record = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == LAYER_UNITS
    assert set(record["detail"]["e2e"]) == set(E2E_UNITS)
    assert all(v > 0 for v in record["detail"]["e2e"].values())
    assert 0 < out["metrics"]["trace.self_time_share"]["value"] <= 1
    assert record["host"]["start"]["gemm_gflops"] > 0


def test_checkout_without_the_program_fails_cleanly(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
