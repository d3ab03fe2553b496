"""The ``catalog_mix`` workload: read-only catalog queries in one warm
session, split into an execution-dominated ``scan`` subset and a
driver-loop ``iter`` subset (see ``catalog_worker.py`` for the mix).

Inputs are generated from the seed by ``tables.py`` at scale
``CATALOG_SF``; the worker runs as its own process group.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time

import tables
from catalog_worker import ITER, SCAN
from harness import CPUS, ProgramProcess, RssSampler, Workdir, event_log, percentile

CATALOG_SF = 0.1
TIMEOUT_S = 1800
# pyspark's Python-worker SQL metrics (pythonTotalTime, pythonBootTime),
# by display name as the event log records them; values are milliseconds
PYTHON_TIME_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
}


class CatalogRun:
    def __init__(self, root: str, seed: int, seconds: float, traced: bool,
                 perturb: str | None = None, cpus: int = CPUS,
                 sf: float = CATALOG_SF) -> None:
        self.root = root
        self.sf = sf
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.perturb = perturb
        self.wd = Workdir(root, f"catalog_mix-{seed}-{os.getpid()}", cpus)

    def run(self) -> dict:
        sf_dir = f"{self.wd.path}/sf"
        t0 = time.time()
        tables.generate(sf_dir, self.sf, self.seed)
        gen_s = time.time() - t0
        out = f"{self.wd.path}/result.json"
        argv = [os.path.join(os.path.dirname(__file__), "catalog_worker.py"),
                "--sf-dir", sf_dir, "--seconds", str(self.seconds), "--out", out]
        if self.traced:
            argv.append("--trace")
        if self.perturb:
            argv += ["--perturb", self.perturb]
        t_launch = time.time()
        prog = ProgramProcess(argv, self.root, self.wd.env(), f"{self.wd.path}/program.log")
        rss = RssSampler(prog.pid)
        rss.start()
        try:
            prog.proc.wait(TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass  # stopped below; no result file means a failed run
        finally:
            peak = rss.finish()
            prog.stop()
        if not os.path.exists(out):
            return {"error": f"catalog worker failed (exit {prog.proc.returncode})\n"
                             + prog.log_tail(),
                    "attempted": len(SCAN) + len(ITER), "failed": len(SCAN) + len(ITER)}
        with open(out) as fh:
            res = json.load(fh)
        passes = res["passes"]
        n_queries = len(SCAN) + len(ITER)
        result = {
            "attempted": n_queries * (1 + len(passes)),
            "failed": len(res["errors"]),
            "errors": res["errors"],
            "metrics": {
                "setup_s": (res["ready"] - t_launch, "s"),
                "catalog_scan_s": (statistics.median(p["scan"] for p in passes), "s"),
                "catalog_iter_s": (statistics.median(p["iter"] for p in passes), "s"),
            },
            "notes": {
                "timed_passes": len(passes),
                "scan_passes_s": [round(p["scan"], 3) for p in passes],
                "iter_passes_s": [round(p["iter"], 3) for p in passes],
                "table_generation_s": round(gen_s, 3),
                "scale_factor": self.sf,
                "peak_rss_mb": round(peak / 2**20, 1),
            },
            "layers": {"mem.peak_rss_mb": (peak / 2**20, "MB")},
        }
        if self.traced:
            result["layers"].update(self.layers(res, len(passes)))
            result["layers"].update(
                {f"traced.{k}": v for k, v in result["metrics"].items()})
        return result

    def layers(self, res: dict, n_passes: int) -> dict:
        out: dict[str, tuple] = {}
        med = statistics.median
        for name, rec in res["queries"].items():
            out[f"catalog.{name}.build_s"] = (med(rec["build_s"]), "s")
            out[f"catalog.{name}.exec_s"] = (med(rec["exec_s"]), "s")
            out[f"catalog.{name}.jobs"] = (med(rec["jobs"]), "count")
        ex = _event_log(f"{self.wd.path}/events")
        for subset, names in (("scan", SCAN), ("iter", ITER)):
            plan = sum(med(res["queries"][n]["plan_s"]) for n in names)
            out[f"catalog.{subset}.plan_s"] = (plan, "s")
            stages = [s for s in ex.values() if s["query"] in names]
            out[f"catalog.{subset}.stages"] = (len(stages) / n_passes, "count")
            out[f"catalog.{subset}.tasks"] = (
                sum(len(s["task_ms"]) for s in stages) / n_passes, "count")
            out[f"catalog.{subset}.shuffle_bytes"] = (
                sum(s["shuffle_bytes"] for s in stages) / n_passes, "B")
            out[f"catalog.{subset}.spill_bytes"] = (
                sum(s["spill_bytes"] for s in stages) / n_passes, "B")
            widest = max(stages, key=lambda s: len(s["task_ms"]), default=None)
            skew = 1.0
            if widest and widest["task_ms"]:
                mid = percentile(widest["task_ms"], 0.5)
                skew = max(widest["task_ms"]) / mid if mid else 1.0
            out[f"catalog.{subset}.skew_max"] = (skew, "ratio")
            for key in ("python_total_s", "python_boot_s"):
                out[f"catalog.{subset}.{key}"] = (
                    sum(s[key] for s in stages) / n_passes, "s")
        return out

    def close(self) -> None:
        self.wd.close()


def _event_log(events_dir: str) -> dict[int, dict]:
    """Stages of the timed passes: owning query, task times, shuffle and
    spill bytes, and the Python worker time SQL metrics."""
    query_of_stage: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for e in event_log(events_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for s in e["Stage IDs"]:
                    query_of_stage[s] = group.split("#")[0]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in query_of_stage:
                continue
            st = stages.setdefault(sid, {
                "query": query_of_stage[sid], "task_ms": [],
                "shuffle_bytes": 0, "spill_bytes": 0,
                "python_total_s": 0.0, "python_boot_s": 0.0})
            info = e.get("Task Info") or {}
            st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            m = e.get("Task Metrics") or {}
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or []:
                key = PYTHON_TIME_METRICS.get(acc.get("Name"))
                if key:
                    st[key] += int(acc.get("Update") or 0) / 1e3
    return stages
