"""The ingest pipeline (SURVEY §3): wire messages → staging shape →
star upsert, identical code in batch and streaming.

Reference lifecycle (src/main.py): Kafka → parse/validate → version
dispatch → v1 name→id resolve / v2 passthrough → ts normalize → bounds
→ clamp → flatten → batch(1000 rows/60 s) → one MySQL txn → DLQ on
failure. Spark mapping: ``readStream`` → ``foreachBatch(StarUpsertSink)``
where the trigger interval IS the batcher (A3) and the sink is
idempotent per epoch (ST1). ``wire_to_staging`` (pure column exprs,
this module) is the transform chain the sink runs.

``StarUpsertSink`` is the one micro-batch (epoch) path, in order: parse
and materialize the wire batch once; count the invalid messages and
queue their DLQ write; resolve the v1 names with one get-or-insert
against the players dim, queueing the dim append; build the staging
rows; compute the star deltas; hand them to the writer — parquet
(``parquet_star_writer``) or one JDBC transaction
(``sources.jdbc.jdbc_star_writer``). The DLQ, dim and star writes
depend on each other only through data already materialized, so they
run at the same time (``concurrent_writes``). All of them end before
the sink returns, so the epoch commits only after every write has
ended — the epoch is the unit of progress and each write is idempotent
or replay-tolerant per epoch (*Structured Streaming*, SIGMOD 2018).
"""

from __future__ import annotations

import logging
from collections import deque
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import star, transforms
from ..schemas import EQUIPMENT_SLOTS
from ..sources import kafka as ksrc
from .dimstore import ParquetDimStore

log = logging.getLogger("report_worker_spark")

# writer(star deltas by table, epoch_id, submit) -> per-table insert
# counts, or None
EpochWriter = Callable[
    [dict[str, DataFrame], int, Callable[..., None]], "dict[str, int] | None"
]

# Per-epoch records a sink keeps: the latest ones, bounded so that a
# long-running stream holds constant memory.
STATS_KEEP = 1000

# The writes of one micro-batch: DLQ, dim, and the four star tables.
_WRITE_POOL = ThreadPoolExecutor(max_workers=6, thread_name_prefix="epoch-write")


@contextmanager
def concurrent_writes() -> Iterator[Callable[..., None]]:
    """Run the independent writes of one micro-batch at the same time.

    Yields ``submit(fn, *args)``, which starts ``fn(*args)`` on a pool
    thread carrying the caller's Spark local properties (the stream's
    ``streaming.sql.batchId`` and job group among them), so every job
    is attributed to, and cancelled with, its epoch. On exit every
    submitted write has ended; a failure — of a write or of the block
    itself — is raised only after the others have settled.
    """
    futures = []
    session = SparkSession.active()

    def submit(fn: Callable[..., None], *args) -> None:
        futures.append(
            _WRITE_POOL.submit(inheritable_thread_target(session)(fn), *args)
        )

    try:
        yield submit
    finally:
        wait(futures)
    for f in futures:
        f.result()


def resolve_v1_names(
    v1: DataFrame, players: DataFrame | Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """v1 path (J1/J2/F3): sanitize both names, broadcast-join the
    players dim twice (reporter, reported), get-or-insert the misses
    with deterministic ids, null-guard the rest.

    ``players`` is either the dim itself — (name, id), names
    pre-sanitized dim-side; misses get deterministic ids here — or a
    get-or-insert function (e.g. ``ParquetDimStore.get_or_insert``)
    that maps the batch's distinct non-null names to one (name, id) row
    each, so the names are resolved once, by the store.
    """
    # the v1 branch's wire reporter_id/reported_id are null — replace them
    v1 = v1.drop("reporter_id", "reported_id")
    v1 = v1.withColumn("_reporter_clean", transforms.sanitize_name("reporter"))
    v1 = v1.withColumn("_reported_clean", transforms.sanitize_name("reported"))

    # distinct() BEFORE get-or-insert: the raw name column is
    # batch-sized (2 names × every message) while the distinct name
    # set is dim-sized. Resolving the pre-deduped set means the
    # get-or-insert's anti-join, id assignment, and resolve join all
    # run on dim-sized input — one batch-sized shuffle here instead of
    # three (internal dedup + batch-sized resolve join + the
    # dropDuplicates that used to re-shuffle the resolve output).
    # explode(array(...)) instead of union-of-two-selects: the union
    # form evaluated the whole upstream (JSON parse included) TWICE —
    # one scan emitting both names halves the parse work per batch.
    # Null names never match the resolve joins below; dropping them
    # keeps them out of a persistent dim.
    both = (
        v1.select(
            F.explode(
                F.array("_reporter_clean", "_reported_clean")
            ).alias("name")
        )
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    if callable(players):
        lookup = players(both)
    else:
        resolved_names, _new = star.get_or_insert_dim(both, players)
        lookup = resolved_names.dropDuplicates(["name"]).select("name", "id")

    rep = lookup.select(
        F.col("name").alias("_rn1"), F.col("id").alias("reporter_id")
    )
    red = lookup.select(
        F.col("name").alias("_rn2"), F.col("id").alias("reported_id")
    )
    v1 = v1.join(
        F.broadcast(rep), v1["_reporter_clean"] == rep["_rn1"], "left"
    ).drop("_rn1")
    v1 = v1.join(
        F.broadcast(red), v1["_reported_clean"] == red["_rn2"], "left"
    ).drop("_rn2")
    v1 = v1.drop("_reporter_clean", "_reported_clean")
    # F3: missing resolution ⇒ skip message (reference src/main.py:110-117)
    return transforms.require_not_null(v1, ["reporter_id", "reported_id"])


def wire_to_staging(
    msgs: DataFrame,
    players: DataFrame | Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Struct-typed wire messages → staging-report rows.

    The whole reference transform chain (src/main.py:100-177) as one
    declarative plan: version dispatch, v1 resolve / v2 passthrough,
    union, ms→s, bounds, clamp, flatten, bool casts. ``players`` is as
    in :func:`resolve_v1_names`.
    """
    # Pin the parsed messages before fanning out: the v1 branch, the
    # v2 branch, and the v1 name-resolution subtree each re-derive
    # ``msgs`` otherwise (measured 6 full re-parses of the 100k-row
    # from_json chain in one wire-bench plan, r14). Batch only —
    # foreachBatch hands this function batch DataFrames, so the
    # streaming path is unaffected.
    if not msgs.isStreaming:
        msgs = msgs.localCheckpoint(eager=False)
    v1, v2 = transforms.version_dispatch(msgs)

    if players is not None:
        v1 = resolve_v1_names(v1, players)
    else:
        # No dim available: v1 name-keyed rows cannot resolve — drop
        # (the reference raises PlayerDoesNotExist per message).
        v1 = v1.filter(F.lit(False))
    common = [
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        "ts",
        "manual_detect",
        "on_members_world",
        "on_pvp_world",
        "world_number",
        "equipment",
        "equip_ge_value",
        "version",
    ]
    merged = v1.select("reporter_id", "reported_id", *common).unionByName(
        v2.select("reporter_id", "reported_id", *common)
    )

    merged = merged.withColumn("ts", transforms.normalize_ts("ts"))
    merged = transforms.bounds_filter(merged, "ts")
    merged = transforms.flatten_struct(merged, "equipment")
    merged = transforms.clamp_equipment(merged)
    merged = transforms.int_to_bool(merged, ["manual_detect", "on_pvp_world"])

    return merged.select(
        F.col("reported_id"),
        F.col("reporter_id").alias("reporting_id"),
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        transforms.epoch_to_timestamp("ts").alias("timestamp"),
        "manual_detect",
        "on_members_world",
        "on_pvp_world",
        "world_number",
        *EQUIPMENT_SLOTS,
        "equip_ge_value",
        "item_bug",
    )


@dataclass
class StarUpsertSink:
    """The foreachBatch sink: one micro-batch of wire messages (a
    ``value`` JSON column) → DLQ, players dim and star tables.

    Per epoch, in the order of the module docstring. Invalid messages
    go to ``{out}/dlq`` and v1 names resolve against the
    ``ParquetDimStore`` at ``{out}/_dims/players``. ``writer(deltas,
    epoch_id, submit)`` writes the four star deltas (default:
    ``parquet_star_writer(out)``); it may start writes with ``submit``
    and may return per-table insert counts. The parsed batch and
    ``upsert_star``'s staging cache are released once every write has
    ended.

    Each epoch's record (epoch, invalid count, status, and the writer's
    ``inserted`` counts when it returns them) is logged on the
    ``report_worker_spark`` logger and kept in ``stats`` (the last
    ``STATS_KEEP``). A failure routes the raw batch to ``dlq`` when one
    is set instead of failing the epoch (ST6).
    """

    out: str
    writer: EpochWriter | None = None
    dlq: Callable[[DataFrame, int, Exception], None] | None = None
    stats: deque[dict] = field(default_factory=lambda: deque(maxlen=STATS_KEEP))

    def __post_init__(self) -> None:
        if self.writer is None:
            self.writer = parquet_star_writer(self.out)

    def players(self, spark: SparkSession) -> ParquetDimStore:
        """The persistent players dim the v1 names resolve against."""
        return ParquetDimStore(spark, f"{self.out}/_dims/players")

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        record = {"epoch": epoch_id, "invalid": None, "status": "ok"}
        # one read of the input: every later job uses this copy
        parsed = ksrc.parse_wire(batch).persist()
        staging = None
        try:
            bad = ksrc.invalid_messages(parsed)
            record["invalid"] = n_bad = bad.count()
            store = self.players(batch.sparkSession)
            with concurrent_writes() as submit:
                if n_bad:
                    submit(
                        write_epoch, ksrc.encode_dlq(bad), f"{self.out}/dlq",
                        epoch_id,
                    )
                # the store resolves the names: get-or-insert keeps ids
                # stable across batches and restarts (reference
                # semantics, MySQL replaced by the parquet store). Ids
                # are pure functions of the name, so the dim append runs
                # alongside the star writes instead of before them.
                staging = wire_to_staging(
                    ksrc.valid_messages(parsed),
                    lambda names: store.get_or_insert(names, submit),
                )
                # micro-batches are trigger-bounded (maxOffsetsPerTrigger),
                # so the per-batch distinct dims are always broadcast-sized
                deltas = star.upsert_star(staging, broadcast_dims=True)
                inserted = self.writer(deltas, epoch_id, submit)
            if inserted is not None:
                record["inserted"] = inserted
        except Exception as exc:  # noqa: BLE001 — DLQ semantics need breadth
            if self.dlq is None:
                raise
            self.dlq(batch, epoch_id, exc)
            record["status"] = "dlq"
        finally:
            if staging is not None:
                staging.unpersist()  # upsert_star cached it
            parsed.unpersist()
        self.stats.append(record)
        log.info("%s", record)


def run_stream_to_star(
    stream: DataFrame,
    sink: StarUpsertSink,
    checkpoint: str,
    trigger_seconds: int = 60,
):
    """Wire the streaming half: 60 s trigger = the reference's max batch
    latency (A3, src/main.py:42,54); checkpoint = consumer-group offset
    tracking (ST1)."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, by: tuple[str, ...] = ()
) -> None:
    """Write ``df`` as the ``epoch=N`` partition of ``path`` (under the
    ``by`` partitions) with dynamic overwrite, so a crashed-and-replayed
    micro-batch replaces its partial output instead of appending
    duplicates (ST1 — the parquet analog of the reference's INSERT
    IGNORE idempotency backstop)."""
    (
        df.withColumn("epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .partitionBy(*by, "epoch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def date_partitioned_writer(base_path: str, ts_col: str = "timestamp"):
    """Per-table star writer: partition by event date AND epoch with
    dynamic overwrite — readers prune on ``dt`` (partition pruning is
    the first-order win at 100 TB: a day's query touches a day's
    files), replays overwrite only their own (dt, epoch) leaves. Tables
    without ``ts_col`` (the dims) are partitioned by epoch alone."""

    def write(name: str, df: DataFrame, epoch_id: int) -> None:
        by = ()
        if ts_col in df.columns:
            df = df.withColumn("dt", F.to_date(F.col(ts_col)))
            by = ("dt",)
        write_epoch(df, f"{base_path}/{name}", epoch_id, by)

    return write


def parquet_star_writer(base_path: str):
    """``StarUpsertSink`` writer: the four star tables under
    ``base_path``, each through a ``date_partitioned_writer`` closure,
    all at once on the epoch's write pool."""

    def write(deltas: dict[str, DataFrame], epoch_id: int, submit) -> None:
        table = date_partitioned_writer(base_path)
        for name, df in deltas.items():
            submit(table, name, df, epoch_id)

    return write


def staging_to_wire(staging: DataFrame) -> DataFrame:
    """Failed-batch re-encode (§3.3, reference views/report.py:170-208):
    staging rows back into v2 wire messages — ms epoch, bool/None→int-0
    defaults, nested equipment struct — ready for ``encode_dlq``/Kafka.
    The reconstructed message re-enters the pipeline as v2 and lands on
    the identical staging row (round-trip tested)."""
    zero = lambda c: F.coalesce(F.col(c).cast("int"), F.lit(0))  # noqa: E731
    return staging.select(
        F.struct(F.lit("v2.0.0").alias("version")).alias("metadata"),
        F.col("reporting_id").alias("reporter_id"),
        F.col("reported_id"),
        "region_id",
        "x_coord",
        "y_coord",
        "z_coord",
        transforms.timestamp_to_epoch_ms("timestamp").alias("ts"),
        zero("manual_detect").alias("manual_detect"),
        zero("on_members_world").alias("on_members_world"),
        zero("on_pvp_world").alias("on_pvp_world"),
        F.coalesce(F.col("world_number"), F.lit(0)).alias("world_number"),
        F.struct(*[F.col(s).alias(s) for s in EQUIPMENT_SLOTS]).alias(
            "equipment"
        ),
        F.coalesce(F.col("equip_ge_value"), F.lit(0)).alias("equip_ge_value"),
    )
