"""Run plumbing: isolation guard, workspace, Spark lifecycle, process-tree
RSS sampling and summary statistics.

Nothing here imports pyspark at module level: the workspace environment
(TMPDIR, SPARK_LOCAL_DIRS, JVM temp dir) must be in place before the
gateway JVM is launched.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import tempfile
import threading
import time

SPARK_JVM_MARK = b"org.apache.spark.deploy.SparkSubmit"


def _proc_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:  # the process exited between listing and reading
        return b""


def live_spark_jvms() -> list[int]:
    """PIDs of running Spark JVMs (any SparkSubmit process)."""
    me = os.getpid()
    return [
        pid for pid in _proc_pids()
        if pid != me and SPARK_JVM_MARK in _read(f"/proc/{pid}/cmdline")
    ]


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _proc_pids():
        stat = _read(f"/proc/{pid}/stat")
        if not stat:
            continue
        # the command name sits in parentheses and may hold spaces
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_resident_bytes(root: int) -> int:
    """Resident memory of a process tree, as the sum of proportional set
    sizes: pages shared between processes (forked Python workers) count
    once, not once per process."""
    total = 0
    for pid in _tree_pids(root):
        for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
            if line.startswith(b"Pss:"):
                total += int(line.split()[1]) * 1024
                break
    return total


class RssSampler:
    """Background sampler of this process tree's resident memory (the
    driver JVM and the Python workers it forks are all descendants)."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_resident_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_resident_bytes(os.getpid()))


class Workspace:
    """A fresh per-run directory inside the checkout holding the lake,
    table, spill and temp files; removed when the run ends."""

    def __init__(self, checkout: str, tag: str):
        self.root = os.path.join(
            checkout, ".perfbench_work", f"{tag}-{os.getpid()}-{time.time_ns()}"
        )
        os.makedirs(os.path.join(self.root, "tmp"))
        os.makedirs(os.path.join(self.root, "spark-local"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def fresh(self, name: str) -> str:
        """A new empty subdirectory."""
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def export_env(self) -> None:
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # the module caches its first lookup
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # JVM-side temp files and Derby's log stay in the workspace; no
        # hsperfdata file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={tmp}/derby.log "
            "-XX:-UsePerfData"
        )

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        try:
            os.rmdir(parent)  # only when no other run's workspace is left
        except OSError:
            pass


def start_spark(cpus: int):
    """A session from the session layer's ``get_spark``, on local[cpus]."""
    from fred_economic_data_pipeline_local_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    # a later session in this process launches a fresh gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --- statistics --------------------------------------------------------------


def percentile(sorted_xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if len(sorted_xs) == 1:
        return sorted_xs[0]
    pos = (len(sorted_xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it;
    50 (the median) when there are too few samples for any higher one."""
    if n <= 20:
        return 50
    return max(50, math.floor(100 * (1 - 10 / n)))
