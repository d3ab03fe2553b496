"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes. Each workload
runs once at tiny scale and must print every metric with a name and a
unit. Then faults are planted and must trip the correctness gate:

- a deleted fact file (ingest keys missing);
- a DLQ row miscount (one malformed message too many expected);
- a perturbed oracle row (catalog query vs its DuckDB twin).

It also checks the reference model against the program's own one-shot
(non-streaming) ``ingest`` over the same input files, so the model and
the batch path are known to agree.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys

import catalog
from catalog import CatalogRun
from ingest import IngestRun
from model import Expected, gate, read_outputs
from trace_layers import Tracer

ROOT = os.getcwd()
failures: list[str] = []


def check(cond: bool, what: str) -> None:
    print(f"{'PASS' if cond else 'FAIL'}: {what}", flush=True)
    if not cond:
        failures.append(what)


def check_metrics(metrics: dict, names: list[str], what: str) -> None:
    missing = [n for n in names if n not in metrics]
    check(not missing, f"{what}: every metric present (missing {missing})")
    bad = [k for k, (v, unit) in metrics.items()
           if not unit or not isinstance(v, (int, float)) or not math.isfinite(v)]
    check(not bad, f"{what}: every metric is a finite number with a unit (bad {bad})")


def ingest_case(workload: str, bench: dict) -> None:
    traced = workload == "ingest_bulk"
    run = IngestRun(ROOT, workload, 7, 4, Tracer() if traced else None, bulk_msgs=300)
    try:
        result = run.run()
        check("error" not in result, f"{workload}: run completes ({result.get('error')})")
        if "error" in result:
            return
        check(not result["errors"], f"{workload}: clean run passes the gate {result['errors']}")
        names = [m["name"] for m in bench["per_layer" if traced else "end_to_end"]]
        check_metrics(result["layers" if traced else "metrics"], names,
                      f"{workload} trace={int(traced)}")

        out = run.wd.out
        expected = Expected(run.lines)
        # the program's one-shot batch ingest over the same files
        oneshot = f"{run.wd.path}/oneshot"
        proc = subprocess.run(
            [sys.executable, "-m", "report_worker_spark", "ingest", "--format", "jsonl",
             "--input", run.wd.input, "--out", oneshot, "--players", run.wd.players],
            cwd=ROOT, env={**os.environ, **run.wd.env()}, capture_output=True, text=True)
        check(proc.returncode == 0, f"{workload}: one-shot ingest runs")
        check(gate(expected, read_outputs(oneshot)) == [],
              f"{workload}: one-shot ingest agrees with the model")

        expected.n_malformed += 1
        check(any("dlq" in e for e in gate(expected, read_outputs(out))),
              f"{workload}: DLQ miscount trips the gate")
        expected.n_malformed -= 1
        fact_files = sorted(glob.glob(f"{out}/fact/**/*.parquet", recursive=True))
        os.remove(fact_files[len(fact_files) // 2])
        check(any(e.startswith("fact") for e in gate(expected, read_outputs(out))),
              f"{workload}: deleted fact file trips the gate")
    finally:
        run.close()


def catalog_case() -> None:
    run = CatalogRun(ROOT, 7, 0, traced=True, perturb="olap_q1_pricing_summary", sf=0.001)
    try:
        result = run.run()
        check("error" not in result, f"catalog_mix: run completes ({result.get('error')})")
        if "error" in result:
            return
        check_metrics(result["metrics"], ["setup_s", "catalog_scan_s", "catalog_iter_s"],
                      "catalog_mix trace=1")
        names = [f"catalog.{q}.{m}" for q in catalog.SCAN + catalog.ITER
                 for m in ("build_s", "exec_s", "jobs")]
        names += [f"catalog.{s}.{m}" for s in ("scan", "iter") for m in (
            "plan_s", "stages", "tasks", "shuffle_bytes", "spill_bytes", "skew_max",
            "python_total_s", "python_boot_s")]
        check_metrics(result["layers"], names, "catalog_mix per-layer")
        errors = result["errors"]
        check(len(errors) == 1 and errors[0].startswith("olap_q1_pricing_summary"),
              f"catalog_mix: only the perturbed oracle row trips the gate {errors}")
    finally:
        run.close()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ingest_case("ingest_steady", bench)
    ingest_case("ingest_bulk", bench)
    catalog_case()
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
