from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import functions as F

from report_worker_spark.__main__ import main
from report_worker_spark.sources.synthetic import generate_report_json


def test_cli_ingest_batch_and_list(spark, tmp_path, capsys):
    generate_report_json(spark, n=1000, seed=5).write.parquet(
        str(tmp_path / "wire")
    )
    spark.range(300).select(
        F.concat(F.lit("player"), F.col("id")).alias("name"),
        F.col("id").alias("id"),
    ).write.parquet(str(tmp_path / "players"))

    rc = main(
        [
            "ingest",
            "--input", str(tmp_path / "wire"),
            "--out", str(tmp_path / "star"),
            "--players", str(tmp_path / "players"),
        ]
    )
    assert rc == 0
    fact = spark.read.parquet(str(tmp_path / "star/fact"))
    assert fact.count() > 0
    assert "dt" in fact.columns

    rc = main(["list-queries"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "flagship_top_reported\toracle" in out

    assert main(["query", "nope_not_real"]) == 2


def _rows(spark, path):
    """A star table's rows as a sorted list, without the epoch column
    (the run that wrote them)."""
    df = spark.read.parquet(path).drop("epoch")
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)


def test_cli_ingest_ids_stable_across_runs(spark, tmp_path):
    """Two separate ingest invocations over different batches must
    resolve the same player name to the same id (dim store persists),
    and the second adds to the first's star tables: its fact and
    sighting rows equal the union of each run's rows alone."""
    generate_report_json(spark, n=400, seed=21).write.parquet(
        str(tmp_path / "w1")
    )
    generate_report_json(spark, n=400, seed=22).write.parquet(
        str(tmp_path / "w2")
    )
    out = str(tmp_path / "star2")
    assert main(["ingest", "--input", str(tmp_path / "w1"), "--out", out]) == 0
    dim1 = {
        r.name: r.id
        for r in spark.read.parquet(f"{out}/_dims/players").collect()
    }
    assert main(["ingest", "--input", str(tmp_path / "w2"), "--out", out]) == 0
    dim2 = {
        r.name: r.id
        for r in spark.read.parquet(f"{out}/_dims/players")
        .dropDuplicates(["name"]).collect()
    }
    for name, i in dim1.items():
        assert dim2[name] == i  # stable
    assert len(dim2) >= len(dim1)

    for w in ("w1", "w2"):
        alone = str(tmp_path / f"alone_{w}")
        assert main(["ingest", "--input", str(tmp_path / w), "--out", alone]) == 0
    for table in ("fact", "sighting"):
        union = sorted(
            _rows(spark, str(tmp_path / f"alone_w1/{table}"))
            + _rows(spark, str(tmp_path / f"alone_w2/{table}")),
            key=repr,
        )
        assert _rows(spark, f"{out}/{table}") == union, table


def test_cli_ingest_jsonl(spark, tmp_path):
    msgs = generate_report_json(spark, n=300, seed=8)
    msgs.select("value").write.text(str(tmp_path / "jl"))
    out = str(tmp_path / "star_jl")
    rc = main(
        ["ingest", "--input", str(tmp_path / "jl"), "--out", out,
         "--format", "jsonl"]
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/fact").count() > 0


def _v1_message(reporter: str) -> str:
    return json.dumps({
        "reporter": reporter, "reported": "player1", "region_id": 10100,
        "x_coord": 1, "y_coord": 2, "z_coord": 0, "ts": 1704223737,
        "manual_detect": 1, "on_members_world": 0, "on_pvp_world": 0,
        "world_number": 301, "equipment": {"equip_head_id": 5},
        "equip_ge_value": 0,
    })


def _wait_for(cond, what, budget=300):
    deadline = time.time() + budget
    while not cond():
        assert time.time() < deadline, f"timed out waiting for {what}"
        time.sleep(0.2)


def test_cli_stream_reads_each_message_once(spark, tmp_path):
    """``ingest --stream``: every message is read from the source once
    per micro-batch (numInputRows = messages fed), and a v1 name first
    seen in batch N is in the dim store with its hash id once batch N
    has committed."""
    inp, out = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    generated = [r.value for r in generate_report_json(spark, n=60, seed=31).collect()]
    batches = [
        generated[:30] + [_v1_message("Fresh_Face-0")],
        generated[30:] + [_v1_message("Fresh_Face-1"), "{not json"],
    ]

    def feed(n):
        staged = tmp_path / f"batch{n}.jsonl"
        staged.write_text("\n".join(batches[n]) + "\n")
        os.rename(staged, inp / staged.name)

    def dim_ids():
        dim = spark.read.parquet(str(out / "_dims/players"))
        return {r.name: r.id for r in dim.collect()}

    before = {q.id for q in spark.streams.active}
    program = threading.Thread(target=main, daemon=True, args=([
        "ingest", "--stream", "--format", "jsonl", "--trigger", "0",
        "--input", str(inp), "--out", str(out),
    ],))
    feed(0)
    program.start()
    try:
        for n in range(2):
            _wait_for((out / f"_ckpt/commits/{n}").exists, f"batch {n} commit")
            name = f"fresh face {n}"
            want = spark.range(1).select(F.xxhash64(F.lit(name))).first()[0]
            assert dim_ids().get(name) == want
            if n == 0:
                assert "fresh face 1" not in dim_ids()
                feed(1)
        (query,) = [q for q in spark.streams.active if q.id not in before]
        _wait_for(lambda: {0, 1} <= {p.batchId for p in query.recentProgress},
                  "progress of both batches", budget=30)
        assert query.exception() is None
        read = {p.batchId: p.numInputRows for p in query.recentProgress}
        assert read[0] == len(batches[0]) and read[1] == len(batches[1])
        assert spark.read.parquet(str(out / "dlq")).count() == 1
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()
        program.join(60)


def test_cli_explain(spark, capsys):
    assert main(["explain", "nope_not_real"]) == 2
    capsys.readouterr()
    rc = main(
        ["explain", "stats_benford_first_digit",
         "--sf-dir", "/root/testdata/sf0.001", "--mode", "formatted"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out
    # the 1-column projection must reach the scan
    assert "o_totalprice" in out
