"""Traced run: the program on a thread of this process, with spans
recorded around its public functions from outside.

Spans (name, start, end, parent, micro-batch) are kept in memory and
written once at the end. The functions wrapped are the public layer
boundaries of ``report_worker_spark``:

- ``__main__``: the ``foreachBatch`` function the CLI registers
  (``cli.epoch``; its self time is where the DLQ count and write run);
- ``sources.kafka``: ``parse_wire``, ``valid_messages``,
  ``invalid_messages``, ``encode_dlq`` (lazy builds);
- ``streaming.dimstore``: ``ParquetDimStore.get_or_insert`` / ``read``;
- ``streaming.pipeline``: ``wire_to_staging`` (lazy),
  ``StarUpsertSink.__call__``, and each call of the writer that
  ``date_partitioned_writer`` returns (``star.write.<table>``);
- ``star``: ``upsert_star`` (lazy).

Spark's own numbers come from the streaming query's progress reports
and from the event log (jobs, stages, tasks, CPU, shuffle, spill),
attributed to micro-batches by the ``streaming.sql.batchId`` job
property.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time

from harness import event_log, percentile

SPANS = [
    "cli.epoch", "kafka.parse_wire", "kafka.valid_messages", "kafka.invalid_messages",
    "kafka.encode_dlq", "dimstore.get_or_insert", "dimstore.read",
    "pipeline.wire_to_staging", "pipeline.sink", "star.upsert_star",
    "star.write.sighting", "star.write.gear", "star.write.location", "star.write.fact",
]
SPAN_GROUPS = {
    "kafka.build_ms": ("kafka.parse_wire", "kafka.valid_messages",
                       "kafka.invalid_messages", "kafka.encode_dlq"),
    "pipeline.wire_to_staging_ms": ("pipeline.wire_to_staging",),
    "star.upsert_star_ms": ("star.upsert_star",),
    "pipeline.sink_ms": ("pipeline.sink",),
    "dimstore.get_or_insert_ms": ("dimstore.get_or_insert",),
    "star.write_ms.sighting": ("star.write.sighting",),
    "star.write_ms.gear": ("star.write.gear",),
    "star.write_ms.location": ("star.write.location",),
    "star.write_ms.fact": ("star.write.fact",),
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, start, end, parent, epoch)
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------
    def wrap(self, name, fn, name_of=None):
        tracer = self

        def traced(*args, **kwargs):
            local = tracer._local
            stack = local.__dict__.setdefault("stack", [])
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            label = name_of(args) if name_of else name
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append(
                        (sid, label, t0, t1, parent, getattr(local, "epoch", None))
                    )

        return traced

    def install(self) -> None:
        """Patch the public functions; the CLI looks them up at call time."""
        from pyspark.sql.streaming import DataStreamWriter

        from report_worker_spark import star
        from report_worker_spark.sources import kafka
        from report_worker_spark.streaming import pipeline
        from report_worker_spark.streaming.dimstore import ParquetDimStore

        for fn in ("parse_wire", "valid_messages", "invalid_messages", "encode_dlq"):
            setattr(kafka, fn, self.wrap(f"kafka.{fn}", getattr(kafka, fn)))
        ParquetDimStore.get_or_insert = self.wrap(
            "dimstore.get_or_insert", ParquetDimStore.get_or_insert)
        ParquetDimStore.read = self.wrap("dimstore.read", ParquetDimStore.read)
        pipeline.wire_to_staging = self.wrap(
            "pipeline.wire_to_staging", pipeline.wire_to_staging)
        pipeline.StarUpsertSink.__call__ = self.wrap(
            "pipeline.sink", pipeline.StarUpsertSink.__call__)
        star.upsert_star = self.wrap("star.upsert_star", star.upsert_star)

        make_writer = pipeline.date_partitioned_writer

        def date_partitioned_writer(*args, **kwargs):
            return self.wrap(None, make_writer(*args, **kwargs),
                             name_of=lambda a: f"star.write.{a[0]}")

        pipeline.date_partitioned_writer = date_partitioned_writer

        for_each = DataStreamWriter.foreachBatch

        def foreachBatch(writer, func):
            epoch_span = self.wrap("cli.epoch", func)

            def run_epoch(df, epoch_id):
                self._local.epoch = epoch_id
                try:
                    return epoch_span(df, epoch_id)
                finally:
                    self._local.epoch = None

            return for_each(writer, run_epoch)

        DataStreamWriter.foreachBatch = foreachBatch

    def dump(self, path: str) -> None:
        """Write the recorded spans, one JSON object per line."""
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, epoch in sorted(self.spans):
                fh.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                     "parent": parent, "batch": epoch}) + "\n")

    # -- the program on a thread --------------------------------------
    def start(self, argv: list[str], root: str, wd):
        os.environ.update(wd.env())
        if root not in sys.path:
            sys.path.insert(0, root)
        self.events_dir = f"{wd.path}/events"
        os.makedirs(self.events_dir)
        return InProcessProgram(self, argv)

    def layers(self, run, n_warm: int, progress: list[dict]) -> dict:
        """Per-layer metrics over the micro-batches that read timed
        files."""
        batches = run.timed_batches(n_warm)
        msgs = sum(batches.values())
        out: dict[str, tuple] = {}

        def per_batch(name, values, unit):
            values = list(values) or [0]
            out[f"{name}.p50"] = (percentile(values, 0.5), unit)
            out[f"{name}.max"] = (max(values), unit)

        # spans, summed per micro-batch
        by_epoch: dict[int, dict[str, float]] = {b: {} for b in batches}
        children: dict[int, float] = {}
        for sid, name, t0, t1, parent, epoch in self.spans:
            if parent is not None:
                children[parent] = children.get(parent, 0.0) + (t1 - t0)
        self_ms = dict.fromkeys(SPANS, 0.0)
        for sid, name, t0, t1, parent, epoch in self.spans:
            if epoch not in by_epoch:
                continue
            acc = by_epoch[epoch]
            acc[name] = acc.get(name, 0.0) + (t1 - t0) * 1e3
            own = (t1 - t0 - children.get(sid, 0.0)) * 1e3
            acc[f"self:{name}"] = acc.get(f"self:{name}", 0.0) + own
            self_ms[name] += own
        per_batch("cli.epoch_self_ms",
                  (acc.get("self:cli.epoch", 0.0) for acc in by_epoch.values()), "ms")
        for metric, names in SPAN_GROUPS.items():
            per_batch(metric, (sum(acc.get(n, 0.0) for n in names)
                               for acc in by_epoch.values()), "ms")
        for name, ms in self_ms.items():
            out[f"self_ms.{name}"] = (ms / len(batches), "ms/batch")

        # streaming progress
        prog = {p["batchId"]: p for p in progress if p["batchId"] in batches}
        per_batch("stream.trigger_ms",
                  (p["durationMs"].get("triggerExecution", 0) for p in prog.values()), "ms")
        per_batch("stream.engine_overhead_ms",
                  (p["durationMs"].get("triggerExecution", 0)
                   - p["durationMs"].get("addBatch", 0) for p in prog.values()), "ms")
        out["stream.source_reads_per_msg"] = (
            sum(p["numInputRows"] for p in prog.values()) / msgs, "ratio")

        # Spark execution, from the event log
        ex = read_event_log(self.events_dir)
        per_batch("exec.jobs_per_batch", (ex.get(b, {}).get("jobs", 0) for b in batches), "count")
        per_batch("exec.stages_per_batch", (ex.get(b, {}).get("stages", 0) for b in batches), "count")
        per_batch("exec.tasks_per_batch", (ex.get(b, {}).get("tasks", 0) for b in batches), "count")
        tot = lambda key: sum(ex.get(b, {}).get(key, 0) for b in batches)  # noqa: E731
        out["exec.cpu_ms_per_msg"] = (tot("cpu_ns") / 1e6 / msgs, "ms/msg")
        out["exec.shuffle_bytes_per_msg"] = (tot("shuffle_bytes") / msgs, "B/msg")
        out["exec.spill_bytes"] = (tot("spill_bytes"), "B")
        return out


class InProcessProgram:
    """``report_worker_spark.__main__.main(argv)`` on a thread, with the
    tracer's patches installed and Spark's event log on."""

    def __init__(self, tracer: Tracer, argv: list[str]) -> None:
        from report_worker_spark.session import get_spark

        self.spark = get_spark("rws-ingest", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": tracer.events_dir,
            "spark.eventLog.compress": "false",
        })
        tracer.install()
        from report_worker_spark.__main__ import main

        self.commits_dir = f"{argv[argv.index('--out') + 1]}/_ckpt/commits"
        self.pid = os.getpid()
        # an exception in main() is printed by the thread's excepthook and
        # ends the thread, which the run sees as the program exiting
        self.thread = threading.Thread(target=main, args=(argv,), daemon=True)
        self.thread.start()

    def alive(self) -> bool:
        return self.thread.is_alive()

    def stop(self) -> list[dict]:
        """Stop the query and Spark; return the query's progress reports,
        once they cover every committed micro-batch (they are posted
        just after the commit)."""
        progress = []
        for q in self.spark.streams.active:
            committed = [int(n) for n in os.listdir(self.commits_dir) if n.isdigit()]
            deadline = time.time() + 10
            while True:
                progress = [json.loads(p.json) for p in q.recentProgress]
                done = {p["batchId"] for p in progress}
                if set(committed) <= done or time.time() > deadline:
                    break
                time.sleep(0.05)
            q.stop()
        self.thread.join(60)
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(30)
            except Exception:  # noqa: BLE001 — make sure the JVM ends
                proc.kill()
                proc.wait()
        return progress


def read_event_log(events_dir: str) -> dict[int, dict]:
    """Jobs, completed stages, tasks, CPU, shuffle and spill per
    micro-batch, from Spark's JSON event log."""
    batch_of_stage: dict[int, int] = {}
    out: dict[int, dict] = {}
    for e in event_log(events_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            b = (e.get("Properties") or {}).get("streaming.sql.batchId")
            if b is None:
                continue
            b = int(b)
            for s in e["Stage IDs"]:
                batch_of_stage[s] = b
            acc = out.setdefault(b, dict.fromkeys(
                ("jobs", "stages", "tasks", "cpu_ns", "shuffle_bytes", "spill_bytes"), 0))
            acc["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            b = batch_of_stage.get(e["Stage Info"]["Stage ID"])
            if b is not None:
                out[b]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            b = batch_of_stage.get(e["Stage ID"])
            if b is None:
                continue
            m = e.get("Task Metrics") or {}
            acc = out[b]
            acc["tasks"] += 1
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return out
