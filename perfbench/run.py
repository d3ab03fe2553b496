"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Human-readable
lines come first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the program
runs in this process with spans around its public functions, and the
metrics are the per-layer ones. Exits 1 when an output check fails and
2 when the checkout holds no program to measure. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

WORKLOADS = ("ingest_steady", "ingest_bulk", "catalog_mix")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="override the pinned core count (single-core baseline)",
    )
    args = ap.parse_args(argv)
    # a terminated run still stops the program it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "report_worker_spark", "__main__.py")):
        print("no report_worker_spark/ in the current directory; run from "
              "the root of a checkout", file=sys.stderr)
        return 2

    from harness import CPUS

    cpus = args.cpus or CPUS
    if args.workload == "catalog_mix":
        from catalog import CatalogRun

        run = CatalogRun(root, args.seed, args.seconds, bool(args.trace), cpus=cpus)
    else:
        from ingest import IngestRun

        tracer = None
        if args.trace:
            from trace_layers import Tracer

            tracer = Tracer()
        run = IngestRun(root, args.workload, args.seed, args.seconds, tracer, cpus)
    try:
        result = run.run()
    finally:
        run.close()

    if "error" in result:
        print(f"run failed: {result['error']}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": {}}))
        return 1
    for err in result["errors"]:
        print(f"CHECK FAILED: {err}")
    for key, value in result["notes"].items():
        print(f"note {key} = {value}")
    for name, (value, unit) in {**result["metrics"], **result["layers"]}.items():
        print(f"{name} = {value:.6g} {unit}")
    chosen = result["layers"] if args.trace else result["metrics"]
    correct = not result["errors"] and result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
