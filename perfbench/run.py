"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The line before it is the run's host-noise record
and detail. Inputs, scratch files and run records stay under
.perfbench_work/ in the checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the test suite's smoke pass")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cs598vectordb_spark", "__init__.py")):
        print(
            "perfbench: run from a checkout holding the program "
            "(cs598vectordb_spark/ not found next to perfbench/)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import run_workload

    work = os.path.join(ROOT, ".perfbench_work")
    out = run_workload(args.workload, work, args.seed, args.seconds, bool(args.trace), args.scale)
    record, tracer = out.pop("record"), out.pop("tracer")
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as fh:
        json.dump({**record, "result": out}, fh, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
    print(json.dumps(record))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
