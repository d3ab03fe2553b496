"""Catalog-mix worker: one warm Spark session running a fixed mix of
catalog queries through ``plans.QUERIES[name](spark, sf_dir)`` and a
``noop`` write.

    python3 perfbench/catalog_worker.py --sf-dir DIR --seconds S --out FILE [--trace]

Run with the repository root as the working directory. The first pass
is the warm-up and the correctness check: each query's rows are
compared with its DuckDB twin in ``plans.ORACLE``, canonicalized as the
test suite's oracle harness does. Timed passes follow until ``S``
seconds have passed (at least three). With ``--trace`` each query's
build, plan and execution are timed apart, tagged with a Spark job
group, and Spark's event log is kept for per-stage numbers. Writes one
JSON object to FILE.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

SCAN = [
    "flagship_top_reported",
    "olap_q1_pricing_summary",
    "star_upsert_fact",
    "join_interval_overlap",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "sim_lsh_topk_md5planes",
    "emb_knn_outlier_census",
    "multimodal_png_pixel_stats",
    "text_bm25_topk",
]
ITER = [
    "text_bpe_train_merges",
    "graph_bfs_khop",
    "graph_label_propagation",
    "graph_closeness_topk",
    "curation_coreset_kcenter",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MIN_PASSES = 3


def _cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def canon(pdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted rows rendered cell by cell
    (None as ∅, floats at full precision)."""
    pdf = pdf.astype(object).where(pdf.notna(), None)
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


def oracle_mismatch(spark_pdf, oracle_pdf) -> str | None:
    cs, rs = canon(spark_pdf)
    co, ro = canon(oracle_pdf)
    if not rs and not ro:
        return "both sides returned 0 rows"
    if cs != co:
        return f"columns differ: {cs} vs {co}"
    if rs != ro:
        return f"rows differ: {len(rs)} spark vs {len(ro)} oracle"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--perturb", default=None,
                    help="self-test only: drop one oracle row of this query")
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())

    import duckdb

    from report_worker_spark.plans import ORACLE, QUERIES
    from report_worker_spark.session import get_spark

    extra = {}
    if args.trace:
        events = os.path.join(os.path.dirname(args.out), "events")
        os.makedirs(events, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                 "spark.eventLog.compress": "false"}
    spark = get_spark("rws-catalog", extra_conf=extra)
    sc = spark.sparkContext
    result: dict = {"errors": [], "passes": [], "queries": {}}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    # warm pass = correctness pass (outside the timed passes)
    for name in SCAN + ITER:
        try:
            got = QUERIES[name](spark, args.sf_dir).toPandas()
            want = con.sql(ORACLE[name]).df()
            if name == args.perturb:
                want = want.iloc[1:]
            bad = oracle_mismatch(got, want)
        except Exception as exc:  # noqa: BLE001 — a failing query is a failed operation
            bad = f"{type(exc).__name__}: {exc}"
        if bad:
            result["errors"].append(f"{name}: {bad}")
    con.close()
    result["ready"] = time.time()

    def run_query(name: str, pass_no: int) -> None:
        if not args.trace:
            QUERIES[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            return
        rec = result["queries"].setdefault(name, {"build_s": [], "plan_s": [],
                                                  "exec_s": [], "jobs": []})
        tag = f"{name}#{pass_no}"
        sc.setJobGroup(f"{tag}:build", tag)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, args.sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"{tag}:exec", tag)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        rec["build_s"].append(t1 - t0)
        rec["plan_s"].append(t2 - t1)
        rec["exec_s"].append(t3 - t2)
        tracker = sc.statusTracker()
        rec["jobs"].append(len(tracker.getJobIdsForGroup(f"{tag}:build"))
                           + len(tracker.getJobIdsForGroup(f"{tag}:exec")))

    t_start = time.time()
    while len(result["passes"]) < MIN_PASSES or time.time() - t_start < args.seconds:
        p = {}
        for subset, names in (("scan", SCAN), ("iter", ITER)):
            t0 = time.perf_counter()
            for name in names:
                run_query(name, len(result["passes"]))
            p[subset] = time.perf_counter() - t0
        result["passes"].append(p)
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
