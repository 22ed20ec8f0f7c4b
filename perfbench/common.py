"""Shared plumbing for the benchmark: paths, environment, the Spark
session's lifetime, and process-tree counters read from /proc.

Everything the benchmark writes goes under ``perfbench/.work`` in the
checkout, including Spark's local dirs, the JVM's temp dir and the
engine's substrate store, so a run never reads or writes outside it.
"""

from __future__ import annotations

import os
import signal
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Point every scratch location at ``work`` and make the engine
    importable here and in the Python workers Spark forks."""
    for sub in ("tmp", "spark-local", "substrates"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SUBSTRATE_ROOT"] = os.path.join(work, "substrates")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # A pinned heap: under the default (70% of RAM) the JVM's resident
    # peak follows GC sizing decisions and varies by a quarter run to run.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    paths = [ROOT, os.path.join(ROOT, "tests")]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(app: str):
    """The engine's own session factory; returns (spark, seconds)."""
    from kaggle_data_pipeline_with_aws_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin pipe closes.
        proc.stdin.close()
        proc.wait(timeout=120)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def kill_tree(proc) -> None:
    """Kill a child process and its descendants; wait until all are gone."""
    pids = process_tree(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:  # already gone
            pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in pids[1:]
    ):
        time.sleep(0.1)  # orphans are reaped by init


def tree_cpu_seconds() -> float:
    """User + system CPU of the live process tree, including children
    each process has already reaped (``cutime``/``cstime``), so Python
    workers that exited between two readings still count."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are 14..17.
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK_TCK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    cores since boot: a neighbour's load shows here, not in ``cpu_s``."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def reset_peak_rss() -> None:
    """Restart every live tree process's VmHWM from its current RSS."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM) since
    it started or since the last ``reset_peak_rss``."""
    kib = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0
