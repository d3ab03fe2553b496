"""The two ingest workloads, driven through the program's CLI.

``ingest_steady`` (open loop): one generator thread writes a file of
50 messages every 0.5 s (100 msg/s), on schedule whatever the program
does. Each message is timed from when its file was due. At this rate a
micro-batch holds about 500 messages on a 4-core box, so per-batch
fixed cost dominates.

``ingest_bulk`` (closed loop, one client): a file of 1,000 messages is
written, and the next one only after the micro-batch that read it has
committed.

The program runs as ``python -m report_worker_spark ingest --stream
--format jsonl --trigger 0`` in its own process group (or, traced, on a
thread of this process). Progress is read from its checkpoint: the
file-source log says which batch read which file, and the commit log's
file time is when that batch's output was final.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

from harness import CPUS, ProgramProcess, RssSampler, Workdir, p99_level, percentile
from model import Expected, gate, read_outputs
from traffic import N_PLAYERS, Traffic, write_atomic, write_players

STEADY_PERIOD_S = 0.5
STEADY_FILE_MSGS = 50  # 100 msg/s
BULK_FILE_MSGS = 1000
SETUP_TIMEOUT_S = 240
BATCH_TIMEOUT_S = 120


class ProgramFailed(RuntimeError):
    pass


@dataclass
class FileRec:
    name: str
    n: int
    due: float
    written: float


class StreamLog:
    """Which micro-batch read which input file, and when each batch
    committed, read from the streaming query's checkpoint."""

    def __init__(self, checkpoint: str) -> None:
        self.commits_dir = f"{checkpoint}/commits"
        self.sources_dir = f"{checkpoint}/sources/0"
        self.commit_time: dict[int, float] = {}
        self.batch_of: dict[str, int] = {}
        self._read: set[str] = set()

    def poll(self) -> None:
        if os.path.isdir(self.sources_dir):
            for name in os.listdir(self.sources_dir):
                if name.startswith(".") or name in self._read:
                    continue
                self._read.add(name)
                with open(f"{self.sources_dir}/{name}") as fh:
                    for line in fh:
                        if line.startswith("{"):
                            e = json.loads(line)
                            self.batch_of[os.path.basename(e["path"])] = e["batchId"]
        if os.path.isdir(self.commits_dir):
            for name in os.listdir(self.commits_dir):
                if name.isdigit() and int(name) not in self.commit_time:
                    path = f"{self.commits_dir}/{name}"
                    self.commit_time[int(name)] = os.stat(path).st_mtime_ns / 1e9

    def committed(self, name: str) -> float | None:
        batch = self.batch_of.get(name)
        return None if batch is None else self.commit_time.get(batch)


def ingest_argv(wd: Workdir) -> list[str]:
    return [
        "ingest", "--stream", "--format", "jsonl", "--trigger", "0",
        "--input", wd.input, "--out", wd.out, "--players", wd.players,
    ]


class IngestRun:
    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 tracer=None, cpus: int = CPUS, bulk_msgs: int = BULK_FILE_MSGS) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.wd = Workdir(root, f"{workload}-{seed}-{os.getpid()}", cpus)
        self.file_msgs = STEADY_FILE_MSGS if workload == "ingest_steady" else bulk_msgs
        self.traffic = Traffic(seed)
        self.files: list[FileRec] = []
        self.lines: list[str] = []
        self.log = StreamLog(f"{self.wd.out}/_ckpt")
        self.prog = None

    # -- input side ---------------------------------------------------
    def write(self, n: int, due: float | None = None) -> FileRec:
        lines = self.traffic.lines(n)
        name = f"part-{len(self.files):05d}.jsonl"
        write_atomic(self.wd.input, self.wd.staging, name, lines)
        now = time.time()
        rec = FileRec(name, n, now if due is None else due, now)
        self.lines.extend(lines)
        self.files.append(rec)
        return rec

    def wait_committed(self, names: list[str], timeout: float) -> None:
        deadline = time.time() + timeout
        while True:
            self.log.poll()
            if all(self.log.committed(n) is not None for n in names):
                return
            if not self.prog.alive():
                raise ProgramFailed("the program exited")
            if time.time() > deadline:
                raise ProgramFailed(f"no commit within {timeout:.0f} s")
            time.sleep(0.02)

    def open_loop(self, t0: float, stop: threading.Event) -> None:
        k = 0
        while not stop.is_set():
            due = t0 + k * STEADY_PERIOD_S
            if due >= t0 + self.seconds:
                return
            stop.wait(max(0.0, due - time.time()))
            self.write(STEADY_FILE_MSGS, due)
            k += 1

    # -- the run ------------------------------------------------------
    def start_program(self):
        argv = ingest_argv(self.wd)
        if self.tracer is not None:
            return self.tracer.start(argv, self.root, self.wd)
        return ProgramProcess(
            ["-m", "report_worker_spark", *argv], self.root, self.wd.env(),
            f"{self.wd.path}/program.log",
        )

    def run(self) -> dict:
        file_msgs = self.file_msgs
        write_players(self.wd.players)
        t_launch = time.time()
        self.write(STEADY_FILE_MSGS)  # read by the first (cold) batch
        self.prog = self.start_program()
        rss = RssSampler(self.prog.pid)
        rss.start()
        stop = threading.Event()
        gen = None
        error = None
        try:
            self.wait_committed([self.files[-1].name], SETUP_TIMEOUT_S)
            self.wait_committed([self.write(file_msgs).name], BATCH_TIMEOUT_S)
            setup_s = self.log.committed(self.files[-1].name) - t_launch
            n_warm = len(self.files)
            t0 = time.time()
            if self.workload == "ingest_steady":
                gen = threading.Thread(target=self.open_loop, args=(t0, stop))
                gen.start()
                while gen.is_alive():
                    self.log.poll()
                    if not self.prog.alive():
                        raise ProgramFailed("the program exited")
                    time.sleep(0.02)
                gen.join()
                self.wait_committed([f.name for f in self.files], BATCH_TIMEOUT_S)
            else:
                while True:
                    self.wait_committed([self.write(file_msgs).name], BATCH_TIMEOUT_S)
                    if time.time() - t0 >= self.seconds:
                        break
        except ProgramFailed as exc:
            error = str(exc)
        finally:
            stop.set()
            if gen is not None:
                gen.join()
            peak_rss = rss.finish()
            progress = self.prog.stop()
        self.log.poll()
        if error is not None:
            if isinstance(self.prog, ProgramProcess):
                error += "\n" + self.prog.log_tail()
            return {"error": error, "attempted": sum(f.n for f in self.files),
                    "failed": sum(f.n for f in self.files
                                  if self.log.committed(f.name) is None)}
        result = self.measure(setup_s, t0, n_warm, peak_rss)
        if self.tracer is not None:
            layers = result["layers"]
            layers.update(self.tracer.layers(self, n_warm, progress))
            layers.update({f"traced.{k}": v for k, v in result["metrics"].items()})
            spans = f"{self.root}/.perfbench_work/spans-{self.workload}-{self.seed}.jsonl"
            self.tracer.dump(spans)
            result["notes"]["spans_file"] = spans
        return result

    # -- metrics ------------------------------------------------------
    def timed_batches(self, n_warm: int) -> dict[int, int]:
        """Messages per batch, for the batches that read timed files."""
        per_batch: dict[int, int] = {}
        for f in self.files[n_warm:]:
            b = self.log.batch_of[f.name]
            per_batch[b] = per_batch.get(b, 0) + f.n
        return per_batch

    def measure(self, setup_s: float, t0: float, n_warm: int, peak_rss: int) -> dict:
        timed = self.files[n_warm:]
        commit = {f.name: self.log.committed(f.name) for f in self.files}
        lat = []
        for f in timed:
            lat.extend([commit[f.name] - f.due] * f.n)
        q = p99_level(len(lat))
        n_timed = sum(f.n for f in timed)
        window = max(commit[f.name] for f in timed) - t0

        expected = Expected(self.lines)
        errors = gate(expected, read_outputs(self.wd.out))
        uncommitted = sum(f.n for f in self.files if commit[f.name] is None)
        if uncommitted:
            errors.append(f"{uncommitted} messages never committed")

        per_batch = self.timed_batches(n_warm)
        backlog = []
        for b in per_batch:
            c = self.log.commit_time[b]
            written = sum(f.n for f in self.files if f.written <= c)
            done = sum(f.n for f in self.files if commit[f.name] <= c)
            backlog.append(written - done)
        files_per_batch = _files_per_epoch(self.wd.out)
        dim_files, dim_rows = _dim_store(self.wd.out)
        return {
            "attempted": len(self.lines),
            "failed": uncommitted + len(errors),
            "errors": errors,
            "metrics": {
                "setup_s": (setup_s, "s"),
                "ingest_latency_p50_s": (percentile(lat, 0.5), "s"),
                "ingest_latency_p99_s": (percentile(lat, q), "s"),
                "ingest_msgs_per_s": (n_timed / window, "msg/s"),
            },
            "notes": {
                "latency_samples": len(lat),
                "p99_level": q,
                "timed_batches": len(per_batch),
                "timed_msgs": n_timed,
                "window_s": window,
                "malformed": expected.n_malformed,
                "peak_rss_mb": round(peak_rss / 2**20, 1),
            },
            "layers": {
                "mem.peak_rss_mb": (peak_rss / 2**20, "MB"),
                "stream.batch_msgs.p50": (percentile(list(per_batch.values()), 0.5), "msg"),
                "stream.batch_msgs.max": (max(per_batch.values()), "msg"),
                "source.lag_msgs_max": (max(backlog), "msg"),
                "generator.lag_max_s": (
                    max(f.written - f.due for f in timed), "s"),
                "exec.files_written_per_batch.p50": (percentile(
                    [files_per_batch.get(b, 0) for b in per_batch], 0.5), "count"),
                "exec.files_written_per_batch.max": (max(
                    files_per_batch.get(b, 0) for b in per_batch), "count"),
                "dimstore.files": (dim_files, "count"),
                "dimstore.new_rows": (dim_rows - N_PLAYERS, "count"),
            },
        }

    def close(self) -> None:
        self.wd.close()


def _files_per_epoch(out: str) -> dict[int, int]:
    """Parquet files written per micro-batch across the four star
    tables (each is partitioned by ``epoch``)."""
    counts: dict[int, int] = {}
    for table in ("sighting", "gear", "location", "fact"):
        for dirpath, _dirs, names in os.walk(f"{out}/{table}"):
            leaf = os.path.basename(dirpath)
            n = sum(1 for x in names if x.endswith(".parquet"))
            if leaf.startswith("epoch="):
                e = int(leaf[6:])
                counts[e] = counts.get(e, 0) + n
    return counts


def _dim_store(out: str) -> tuple[int, int]:
    import pyarrow.dataset as ds

    path = f"{out}/_dims/players"
    d = ds.dataset(path, format="parquet")
    names = d.to_table(columns=["name"]).column("name").to_pylist()
    return len(d.files), len(set(names))
