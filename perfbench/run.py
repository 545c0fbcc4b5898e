"""Benchmark of the vector-recommendation engine, measured from outside.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` under ``.perfbench/work``, starts Spark on ``local[<cores>]``,
sets up, then measures whole units of work (a serve deck, a suite pass)
until at least ``--seconds`` have passed, one request at a time: a closed
loop with one client. It checks every output and prints, as its last
stdout line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes every span to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG_DIR = os.path.join(REPO, "vector_database_product_recommendation_spark")
OUT = os.path.join(REPO, ".perfbench")
WORKLOADS = ("serve", "query_suite")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"# package not found at {PKG_DIR}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from harness import Harness, prepare_env

    prepare_env(work)
    os.chdir(work)

    import query_suite
    import serve

    module = {"serve": serve, "query_suite": query_suite}[args.workload]
    harness = Harness(work, bool(args.trace))
    try:
        report = module.run(harness, args.seed, args.seconds)
    finally:
        harness.stop()
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)

    for line in report.notes:
        print(f"# {line}")
    if report.trace_file is not None:
        path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report.trace_file, f, indent=1)
        print(f"# spans written to {os.path.relpath(path, REPO)}")
    print(
        json.dumps(
            {
                "correct": report.failed == 0,
                "attempted": report.attempted,
                "failed": report.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
