"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest_steady --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed (one after another), then
prints, per metric, the median, the quartiles and the interquartile
range as a share of the median, beside the metric's bound from
``BENCHMARK.json``. Results are appended as JSON lines to
``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = f".perfbench_work/spread-{args.workload}.jsonl"
    os.makedirs(".perfbench_work", exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", args.trace]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        wall = time.time() - t0
        try:
            result = json.loads(last)
        except ValueError:
            print(f"seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}")
            return 1
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **result}) + "\n")
        summary = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed} ({wall:.0f}s) correct={result['correct']} {summary}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
