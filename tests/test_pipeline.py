"""Wire → staging → star pipeline, batch and streaming (same code path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from report_worker_spark.schemas import (
    EQUIPMENT_SLOTS,
    EQUIP_MAX_ID,
    REPORT_WIRE_SCHEMA,
    TS_LOWER_BOUND,
    TS_UPPER_BOUND,
)
from report_worker_spark.sources import kafka as ksrc
from report_worker_spark.sources.synthetic import (
    generate_report_json,
    generate_reports,
)
from report_worker_spark.streaming.pipeline import (
    StarUpsertSink,
    date_partitioned_writer,
    wire_to_staging,
)
from tests.conftest import await_finished

N_MSG = 5000


@pytest.fixture(scope="module")
def players(spark):
    # name player{i} ↔ id i: v2 wire ids draw from the same space, like
    # the reference generator stripping the "player" prefix.
    return spark.range(300).select(
        F.concat(F.lit("player"), F.col("id")).alias("name"),
        F.col("id").alias("id"),
    )


def _sink(players, out, **kwargs) -> StarUpsertSink:
    """A sink writing under ``out``, its players dim seeded with
    ``players``."""
    sink = StarUpsertSink(str(out), **kwargs)
    players.write.parquet(f"{out}/_dims/players")
    return sink


def _pooled(table_writer):
    """A sink writer running ``table_writer(name, df, epoch_id)`` per
    star table on the epoch's write pool."""

    def write(deltas, epoch_id, submit):
        for name, df in deltas.items():
            submit(table_writer, name, df, epoch_id)

    return write


def _with_one_malformed(spark, n, seed):
    """``n`` generated wire messages plus one that is not JSON."""
    return generate_report_json(spark, n=n, seed=seed).select("value").union(
        spark.createDataFrame([("{not json",)], "value string")
    )


@pytest.fixture(scope="module")
def staging(spark, players):
    msgs = generate_reports(spark, n=N_MSG, seed=42)
    return wire_to_staging(msgs, players).cache()


def test_staging_invariants(staging):
    rows = staging.collect()
    assert len(rows) > 0
    for r in rows:
        ts = r.timestamp.timestamp()
        assert TS_LOWER_BOUND <= ts <= TS_UPPER_BOUND
        for slot in EQUIPMENT_SLOTS:
            v = r[slot]
            assert v is None or 0 <= v <= EQUIP_MAX_ID
        assert r.reporting_id is not None and r.reported_id is not None
        assert isinstance(r.manual_detect, bool)


def test_v1_names_resolved_to_dim_ids(staging, players):
    # generator ids are player0..299 → dim ids 1..300
    ids = staging.select("reporting_id").distinct()
    joined = ids.join(
        players, ids.reporting_id == players.id, "left_anti"
    )
    assert joined.count() == 0


def test_json_roundtrip_equals_struct_path(spark, players, staging):
    raw = generate_report_json(spark, n=N_MSG, seed=42)
    parsed = ksrc.parse_wire(raw)
    assert ksrc.invalid_messages(parsed).count() == 0
    msgs = ksrc.valid_messages(parsed)
    via_json = wire_to_staging(msgs, players)
    a = sorted(map(tuple, via_json.collect()), key=repr)
    b = sorted(map(tuple, staging.collect()), key=repr)
    assert a == b


def test_invalid_json_routed_not_dropped(spark):
    raw = spark.createDataFrame(
        [("{not json",), ('{"ts": "also-bad-type"}',), ('{"ts": 5}',)],
        ["value"],
    )
    parsed = ksrc.parse_wire(raw)
    bad = ksrc.invalid_messages(parsed)
    good = ksrc.valid_messages(parsed)
    assert bad.count() == 2  # malformed JSON + type-invalid field
    assert good.count() == 1
    assert ksrc.encode_dlq(bad).columns == ["value"]


def test_streaming_file_source_to_star(spark, players, tmp_path):
    """Drive the sink through Structured Streaming with a file source of
    wire messages, writing parquet star tables."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    msgs = generate_report_json(spark, n=1000, seed=7)
    msgs.write.parquet(str(src))

    stream = spark.readStream.schema(msgs.schema).parquet(str(src))

    def writer(name, df, epoch_id):
        df.write.mode("append").parquet(f"{out}/{name}")

    sink = _sink(players, out, writer=_pooled(writer))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)

    fact = spark.read.parquet(f"{out}/fact")
    sight = spark.read.parquet(f"{out}/sighting")
    assert fact.count() > 0
    assert sight.count() > 0
    # surrogate FKs resolve: every fact sighting_id exists in the dim
    assert (
        fact.select("sighting_id")
        .join(sight.select("sighting_id"), on="sighting_id", how="left_anti")
        .count()
        == 0
    )
    assert sink.stats and all(s["status"] == "ok" for s in sink.stats)


def test_sink_dlq_on_failure(spark, players, tmp_path):
    batch = generate_report_json(spark, n=200, seed=9)
    captured = {}

    def writer(deltas, epoch_id, submit):
        raise RuntimeError("sink down")

    def dlq(df, epoch_id, exc):
        captured["rows"] = df.count()
        captured["exc"] = str(exc)

    sink = _sink(players, tmp_path / "out", writer=writer, dlq=dlq)
    sink(batch, epoch_id=1)
    assert captured["rows"] > 0
    assert "sink down" in captured["exc"]
    assert sink.stats[-1]["status"] == "dlq"


def test_epoch_writer_replay_idempotent(spark, players, tmp_path):
    """A re-run of the same epoch (foreachBatch replay after crash)
    must replace, not duplicate, that epoch's output."""
    batch = generate_report_json(spark, n=500, seed=11)
    sink = _sink(players, tmp_path / "star")
    sink(batch, epoch_id=7)
    n1 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    sink(batch, epoch_id=7)  # replay
    n2 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    assert n1 == n2
    sink(batch, epoch_id=8)  # a new epoch appends its own partition
    n3 = spark.read.parquet(str(tmp_path / "star/fact")).count()
    assert n3 == 2 * n1


def test_dlq_replay_keeps_one_row_per_message(spark, players, tmp_path):
    """The DLQ is written per epoch with overwrite: replaying an epoch
    that held one malformed message leaves one DLQ row, not two."""
    batch = _with_one_malformed(spark, n=50, seed=12)
    sink = _sink(players, tmp_path / "out")
    sink(batch, epoch_id=4)
    sink(batch, epoch_id=4)  # the replay
    dlq = spark.read.parquet(str(tmp_path / "out/dlq"))
    assert dlq.count() == 1
    assert [r.epoch for r in dlq.collect()] == [4]
    assert [s["invalid"] for s in sink.stats] == [1, 1]


def test_sink_releases_its_caches(spark, players, tmp_path):
    """After each epoch the session holds as many cached DataFrames as
    before it: the parsed batch and the staging rows ``upsert_star``
    caches are released once the writes have ended."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    batch = generate_report_json(spark, n=300, seed=14)
    sink = _sink(players, tmp_path / "out")
    for epoch_id in range(2):
        before = cache.numCachedEntries()
        sink(batch, epoch_id)
        assert cache.numCachedEntries() == before


def test_sink_logs_one_record_per_epoch(spark, players, tmp_path, caplog):
    """Each epoch's record goes to the ``report_worker_spark`` logger:
    the same dict the sink keeps in ``stats``."""
    import logging

    batch = _with_one_malformed(spark, n=100, seed=15)
    sink = _sink(players, tmp_path / "out")
    with caplog.at_level(logging.INFO, logger="report_worker_spark"):
        sink(batch, epoch_id=2)
    (rec,) = [r for r in caplog.records if r.name == "report_worker_spark"]
    assert rec.args == sink.stats[-1] == {"epoch": 2, "invalid": 1, "status": "ok"}


def test_failed_write_fails_epoch_after_the_others_end(spark, players, tmp_path):
    """The star writes of an epoch run concurrently: one that raises
    fails the epoch only once the other writes have ended, and replaying
    the epoch then leaves the same tables as one clean run."""
    import time

    batch = generate_report_json(spark, n=500, seed=17)
    write = date_partitioned_writer(str(tmp_path / "replayed"))
    ended = []

    def gear_down(name, df, epoch_id):
        if name == "gear":
            raise RuntimeError("gear sink down")
        time.sleep(0.5)  # still running when the gear write raises
        write(name, df, epoch_id)
        ended.append(name)

    with pytest.raises(RuntimeError, match="gear sink down"):
        _sink(players, tmp_path / "replayed", writer=_pooled(gear_down))(
            batch, epoch_id=3
        )
    assert sorted(ended) == ["fact", "location", "sighting"]

    StarUpsertSink(str(tmp_path / "replayed"))(batch, epoch_id=3)  # the replay
    _sink(players, tmp_path / "clean")(batch, epoch_id=3)
    for table in ("sighting", "gear", "location", "fact"):
        got, want = (
            sorted(map(tuple, spark.read.parquet(str(tmp_path / d / table)).collect()),
                   key=repr)
            for d in ("replayed", "clean")
        )
        assert got and got == want, table


def test_pool_writes_carry_the_epoch_batch_id(spark, players, tmp_path):
    """Each star write runs on a pool thread that carries its epoch's
    ``streaming.sql.batchId``, so the jobs it launches are attributed
    to (and cancelled with) that micro-batch."""
    import threading

    msgs = generate_report_json(spark, n=600, seed=19)
    msgs.repartition(3).write.parquet(str(tmp_path / "src"))
    write = date_partitioned_writer(str(tmp_path / "out"))
    seen = []

    def writer(name, df, epoch_id):
        seen.append((
            epoch_id,
            spark.sparkContext.getLocalProperty("streaming.sql.batchId"),
            threading.current_thread().name,
        ))
        write(name, df, epoch_id)

    sink = _sink(players, tmp_path / "out", writer=_pooled(writer))
    q = (
        spark.readStream.schema(msgs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    assert len(seen) == 4 * 3
    for epoch_id, batch_id, thread in seen:
        assert batch_id == str(epoch_id)
        assert thread.startswith("epoch-write")


def test_date_partitioned_fact_prunes(spark, players, tmp_path):
    """Facts land under dt=YYYY-MM-DD partitions; a date-filtered read
    scans only that partition (PartitionFilters in the plan)."""
    batch = generate_report_json(spark, n=2000, seed=13)
    _sink(players, tmp_path / "star")(batch, epoch_id=0)

    fact = spark.read.parquet(str(tmp_path / "star/fact"))
    assert "dt" in fact.columns
    one_day = fact.select("dt").distinct().limit(1).collect()[0].dt
    q = fact.filter(F.col("dt") == F.lit(one_day))
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert q.count() > 0


def test_dlq_reencode_roundtrip(spark, players, staging):
    """§3.3 failed-batch loop: staging → v2 wire re-encode → JSON →
    parse → pipeline again ⇒ the SAME staging rows (the reference's
    retry capability, minus its same-topic poison loop)."""
    from report_worker_spark.streaming.pipeline import staging_to_wire

    wire = staging_to_wire(staging)
    as_json = wire.select(
        F.to_json(F.struct(*[F.col(c) for c in wire.columns])).alias("value")
    )
    parsed = ksrc.parse_wire(as_json)
    assert ksrc.invalid_messages(parsed).count() == 0
    again = wire_to_staging(ksrc.valid_messages(parsed), players)

    # item_bug is a transient warn flag: the re-encoded message carries
    # already-clamped ids, so the retry pass (rightly) sees no bug
    cols = [c for c in staging.columns if c != "item_bug"]
    a = sorted(map(tuple, staging.select(*cols).collect()), key=repr)
    b = sorted(map(tuple, again.select(*cols).collect()), key=repr)
    assert a == b
    assert again.filter(F.col("item_bug")).count() == 0


def test_sql_api_same_results(spark, sf_oracle):
    """spark.sql over registered views ≡ the DataFrame catalog query
    (Catalyst compiles both to the same plan family)."""
    from report_worker_spark.plans.sql_api import sql

    from report_worker_spark.plans import QUERIES
    df_api = QUERIES["flagship_top_reported"](spark, sf_oracle)
    via_sql = sql(
        spark,
        sf_oracle,
        """
        WITH agg AS (
          SELECT user_id, count(*) AS n_reports FROM events GROUP BY user_id
        )
        SELECT a.user_id, c.c_name AS name, a.n_reports
        FROM agg a JOIN customer c ON a.user_id = c.c_custkey
        ORDER BY n_reports DESC, user_id ASC LIMIT 25
        """,
    )
    a = sorted(map(tuple, df_api.collect()))
    b = sorted(map(tuple, via_sql.collect()))
    assert a == b


def test_forward_compatible_unknown_fields(spark, players):
    """A future-version message with EXTRA fields must parse (unknown
    JSON keys are ignored by from_json) — forward compatibility of the
    versioned envelope without code changes."""
    import json

    base = {
        "metadata": {"version": "v2.0.0"},
        "reporter_id": 1, "reported_id": 2,
        "region_id": 10100, "x_coord": 1, "y_coord": 2, "z_coord": 0,
        "ts": 1704223737, "manual_detect": 1, "on_members_world": 0,
        "on_pvp_world": 0, "world_number": 301,
        "equipment": {"equip_head_id": 5},
        "equip_ge_value": 0,
        # future fields:
        "new_field_v3": "surprise", "another": {"nested": [1, 2]},
    }
    raw = spark.createDataFrame([(json.dumps(base),)], ["value"])
    parsed = ksrc.parse_wire(raw)
    assert ksrc.invalid_messages(parsed).count() == 0
    staging = wire_to_staging(ksrc.valid_messages(parsed), players)
    rows = staging.collect()
    assert len(rows) == 1
    assert rows[0].reporting_id == 1 and rows[0].equip_head_id == 5


def test_observed_metrics_on_wire_pipeline(spark, players):
    """A4/ST8: per-batch counters via observe() — the declarative
    replacement for the reference's cache hit/miss log lines."""
    from pyspark.sql import Observation

    msgs = generate_reports(spark, n=1000, seed=4)
    obs = Observation("wire_metrics")
    staging = wire_to_staging(msgs, players).observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("item_bug").cast("long")).alias("clamped_rows"),
    )
    n = staging.count()
    got = obs.get
    assert got["rows_out"] == n
    assert 0 <= got["clamped_rows"] <= n
