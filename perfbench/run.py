#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload kg_ingest --seed 1 --seconds 5 \\
        --trace 0

Run from the repository root.  The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it records the host, the inputs and every call.  Everything the
run writes goes under ``.perfbench_run/`` in the working directory and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    work = os.path.join(os.getcwd(), ".perfbench_run", str(os.getpid()))
    # pinned before numpy or the JVM start, so every worker inherits them
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for knob in ("SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_DRIVER_MEM",
                 "SPARK_GRAFT_SCAN_FAN"):
        os.environ.pop(knob, None)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "cli_p_spark")):
        print(f"perfbench: no cli_p_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    from perfbench.harness import run

    os.makedirs(os.environ["TMPDIR"])
    try:
        result, info = run(args.workload, args.seed, args.seconds,
                           bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
