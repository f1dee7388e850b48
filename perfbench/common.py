"""Paths, pinned environment, statistics and the /proc RSS sampler."""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import threading
import time

# The checkout root: the benchmark runs from it and imports the program
# (``cowsdb_spark``) and the fixture generators (``tools``) from it.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything the benchmark writes lives here (listed in .gitignore).
WORK = os.path.join(ROOT, ".perfbench")
FIXTURES = os.path.join(WORK, "fixtures")
RESULTS = os.path.join(WORK, "results")
TRACES = os.path.join(WORK, "traces")

# Heap for the single Spark driver (local mode: it also runs every task).
# 4g leaves room on a 15 GB box for the Python workers, the client and
# the page cache; ParallelGC and the other JVM flags stay as
# ``cowsdb_spark.session.get_spark`` sets them.
DRIVER_MEMORY = "4g"


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def new_run_dir(tag: str) -> str:
    """A fresh scratch directory for one run: warehouse, Spark local
    dirs and temp files. Removed by :func:`remove_run_dir`."""
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(path, sub))
    return path


def remove_run_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def spark_env(run_dir: str) -> dict:
    """Environment that pins the engine for a benchmark run: all cores,
    a fixed driver heap, a fresh warehouse, and scratch space inside
    the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        MOOSPARK_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        MOOSPARK_USER_FILES_DIR=FIXTURES,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    )
    env.pop("MOOSPARK_EXTRA_CONF", None)
    return env


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile of an unsorted list (q in [0, 1])."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values)


def p95_supported(n: int) -> bool:
    """p95 needs at least ten samples beyond it."""
    return n >= 200


# ---------------------------------------------------------------- RSS


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    return sum(rss_kb(p) for p in tree_pids(root)) / 1024.0


class RssSampler:
    """Samples the summed VmRSS of a process tree from /proc every
    ``interval`` seconds and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return stat[stat.rindex(b")") + 2 :].split()[0] == b"Z"
    except OSError:
        return True


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop a SparkSession hosted in this process and wait until its JVM
    and Python workers have exited (the JVM exits when its stdin
    closes)."""
    from pyspark import SparkContext

    children = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    reap(children)
