"""CLI: run the engine like the reference runs its worker.

    python -m report_worker_spark ingest --input DIR --out DIR
        [--players PARQUET] [--stream --checkpoint DIR] [--trigger 60]
    python -m report_worker_spark query NAME [--sf-dir DIR] [--limit 20]
    python -m report_worker_spark list-queries

``ingest`` consumes wire-format messages (parquet files with a JSON
``value`` column, the Kafka body shape, or JSONL) and upserts the star
schema as date-partitioned parquet under ``--out`` through
``streaming.pipeline.StarUpsertSink``, which also writes the DLQ and
the players dim. ``--stream`` tails the input directory as a file
stream (swap in sources.kafka.read_report_stream for a broker), one
sink call per micro-batch; without it the input is one sink call,
numbered one past the largest ``epoch=`` partition already under
``--out`` so that it adds to earlier runs instead of replacing them.
Each epoch logs one record on the ``report_worker_spark`` logger.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


def _next_epoch(out: str) -> int:
    """One more than the largest ``epoch=N`` partition under ``out``
    (0 when there is none)."""
    epochs = [
        int(d[len("epoch="):])
        for _root, dirs, _files in os.walk(out)
        for d in dirs
        if d.startswith("epoch=")
    ]
    return max(epochs, default=-1) + 1


def cmd_ingest(args: argparse.Namespace) -> int:
    from .streaming.pipeline import StarUpsertSink, run_stream_to_star

    spark = _spark("rws-ingest")
    sink = StarUpsertSink(args.out)
    store = sink.players(spark)
    if args.players and not store.exists():
        # seed the persistent dim from the provided snapshot
        spark.read.parquet(args.players).select("name", "id").write.mode(
            "append"
        ).parquet(store.path)

    reader = spark.readStream if args.stream else spark.read
    if args.format == "jsonl":
        raw = reader.text(args.input)  # one message per line
    else:
        raw = reader.schema("msg_id long, value string").parquet(args.input)
    if args.stream:
        run_stream_to_star(
            raw, sink, args.checkpoint or f"{args.out}/_ckpt", args.trigger
        ).awaitTermination()
    else:
        sink(raw, _next_epoch(args.out))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = _spark("rws-query")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list(_args: argparse.Namespace) -> int:
    from .plans import ORACLE, QUERIES

    for name in sorted(QUERIES):
        kind = "oracle" if name in ORACLE else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the optimized physical plan for a named query — the
    surface for auditing pushdown/broadcast/codegen before a run.

    Caveat: driver-selection queries (stats_exact_median_twopass,
    stats_mad_robust — anything built on _select_kth) execute their
    selection jobs at DataFrame-construction time, so `explain` on
    them runs those scans before printing the (final-pass) plan."""
    from .plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = _spark("rws-explain")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def main(argv: list[str] | None = None) -> int:
    # the per-epoch records at INFO; everything else (py4j) at WARNING
    logging.basicConfig()
    logging.getLogger("report_worker_spark").setLevel(logging.INFO)
    p = argparse.ArgumentParser(prog="report_worker_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="wire messages → star schema")
    pi.add_argument("--input", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--players", default=None)
    pi.add_argument(
        "--format", choices=["parquet", "jsonl"], default="parquet",
        help="wire input: parquet with a JSON value column, or raw JSONL",
    )
    pi.add_argument("--stream", action="store_true")
    pi.add_argument("--checkpoint", default=None)
    pi.add_argument("--trigger", type=int, default=60)
    pi.set_defaults(fn=cmd_ingest)

    pq = sub.add_parser("query", help="run a named catalog query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--limit", type=int, default=20)
    pq.set_defaults(fn=cmd_query)

    pl = sub.add_parser("list-queries", help="list the query catalog")
    pl.set_defaults(fn=cmd_list)

    pe = sub.add_parser(
        "explain", help="print a named query's physical plan"
    )
    pe.add_argument("name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pe.add_argument(
        "--mode",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
        default="formatted",
    )
    pe.set_defaults(fn=cmd_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
