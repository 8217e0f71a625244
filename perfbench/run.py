#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 \\
        --trace 0

Workloads: serve, ingest_loci (see perfbench/NOTES.md).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run.  Human-readable lines start with ``#``; the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The run exits non-zero, printing no result, when the program under test
is not in the checkout or the run itself breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not harness.program_present():
        print("perfbench: mongoesindexer_spark/ and tests/oracle.py must be "
              "in the checkout next to perfbench/", file=sys.stderr)
        return 2
    work = harness.configure_env()
    import report
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work)
    try:
        workloads.WORKLOADS[args.workload](run)
        e2e = report.end_to_end(run)
        layers = report.per_layer(run) if run.trace else None
        if run.trace:
            run.rec.dump(os.path.join(
                harness.OUT, f"trace-{args.workload}-{args.seed}-"
                f"{int(time.time())}.json"))
    finally:
        if run.spark is not None:
            harness.stop_spark(run.spark)
        harness.cleanup(work)
    for line in report.human(run, e2e, layers):
        print(line)
    chosen = layers if run.trace else e2e
    units = report.PER_LAYER if run.trace else report.END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
