"""Shared pieces: the pinned run environment, the program under test as
a process group, process-tree memory sampling, Spark event logs, and
percentiles."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

# Pinned so that two commits are always measured the same way.
CPUS = 4
DRIVER_MEM = "2g"
PAGE = os.sysconf("SC_PAGE_SIZE")


class Workdir:
    """Per-run scratch tree inside the checkout; removed by ``close``."""

    def __init__(self, root: str, name: str, cpus: int = CPUS) -> None:
        self.cpus = cpus
        self.path = os.path.join(root, ".perfbench_work", name)
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("in", "staging", "local", "tmp"):
            os.makedirs(os.path.join(self.path, sub))
        self.input = f"{self.path}/in"
        self.staging = f"{self.path}/staging"
        self.out = f"{self.path}/out"
        self.players = f"{self.path}/players"
        self.local = f"{self.path}/local"
        self.tmp = f"{self.path}/tmp"

    def env(self) -> dict[str, str]:
        """Environment for the program: pinned parallelism and heap, and
        every scratch directory (Spark, JVM, Python) inside the run's
        tree."""
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        return {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": self.local,
            "TMPDIR": self.tmp,
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{java_opts}" pyspark-shell',
            # the short-lived JVM that spark-submit uses to build the command
            "SPARK_LAUNCHER_OPTS": java_opts,
            "PYTHONUNBUFFERED": "1",
            "MALLOC_ARENA_MAX": "2",
        }

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class ProgramProcess:
    """The program as its own process group, so that stopping it also
    stops its JVM and any Python workers."""

    def __init__(self, argv: list[str], cwd: str, env: dict[str, str], log: str):
        self.log_path = log
        self._log = open(log, "w")
        self.proc = subprocess.Popen(
            [sys.executable, *argv], cwd=cwd, env={**os.environ, **env},
            stdout=self._log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        self.pid = self.proc.pid

    def alive(self) -> bool:
        return self.proc.poll() is None

    def stop(self) -> None:
        try:
            os.killpg(self.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        deadline = time.time() + 20
        while time.time() < deadline and _group_alive(self.pid):
            time.sleep(0.1)
        if _group_alive(self.pid):
            os.killpg(self.pid, signal.SIGKILL)
            while _group_alive(self.pid):
                time.sleep(0.1)
        self.proc.wait()
        self._log.close()

    def log_tail(self, n: int = 2000) -> str:
        with open(self.log_path, errors="replace") as fh:
            return fh.read()[-n:]


def _processes():
    """(pid, state, ppid, process group, resident bytes) of every
    process, from /proc/<pid>/stat."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        yield int(name), f[0], int(f[1]), int(f[2]), int(f[21]) * PAGE


def _group_alive(pgid: int) -> bool:
    # a zombie ("Z") has exited already
    return any(g == pgid and s != "Z" for _, s, _, g, _ in _processes())


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss = {}
    for pid, _, ppid, _, res in _processes():
        children.setdefault(ppid, []).append(pid)
        rss[pid] = res
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def event_log(events_dir: str):
    """Events of the Spark JSON event logs under ``events_dir``."""
    for path in sorted(glob.glob(f"{events_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled every 0.2 s."""

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._halt.wait(0.2)

    def finish(self) -> int:
        self._halt.set()
        self.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < q <= 1)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def p99_level(n: int) -> float:
    """The highest of 0.99, 0.9, 0.5 that leaves at least ten samples
    beyond it."""
    for q in (0.99, 0.9, 0.5):
        if n * (1 - q) >= 10:
            return q
    return 0.5
