"""Benchmark runner.

    python3 perfbench/run.py --workload {weekly,registry} --seed N \
        --seconds S --trace {0,1}

Closed loop, one client: one unit at a time in one process. A unit is one
weekly cycle (``cycle.py``) or one pass over the pinned query set
(``registry_set.py``). The run sets up, times a first unit on a JVM that
has run nothing before it, then repeats units for ``--seconds`` and
reports medians. Every unit's output is checked; a unit that raises or
mismatches counts in ``failed``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` alternates untraced and traced units after the first and
prints the per-layer metrics, taken from the traced units, plus the
tracing overhead (traced minus untraced median wall time). Per-layer
metrics of a workload that does not reach that layer read 0.

The last stdout line is the result JSON; the line before it has the
samples, the failure ratio and the environment.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (
    ROOT,
    WORK_ROOT,
    prepare_env,
    reset_peak_rss,
    steal_seconds,
    stop_spark,
    tree_cpu_seconds,
    tree_peak_rss_mb,
)

WORKLOADS = {
    "weekly": ("cycle", "WeeklyWorkload"),
    "registry": ("registry_set", "RegistryWorkload"),
}


@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    steal_s: float
    ok: bool
    layer: dict[str, float] | None


def run_unit(wl, traced: bool) -> Unit:
    wl.prepare(traced)
    reset_peak_rss()
    cpu0 = tree_cpu_seconds()
    steal0 = steal_seconds()
    t0 = time.perf_counter()
    try:
        out = wl.execute()
    except Exception:  # a failed unit is counted, the run goes on
        traceback.print_exc()
        out = None
    wall = time.perf_counter() - t0
    cpu = tree_cpu_seconds() - cpu0
    rss = tree_peak_rss_mb()
    steal = steal_seconds() - steal0
    try:
        ok, layer = wl.finish(out, wall, traced)
    except Exception:  # an unreadable output fails its unit
        traceback.print_exc()
        ok, layer = False, None
    print(
        f"# unit wall={wall:.3f}s cpu={cpu:.2f}s ok={ok} traced={traced}",
        file=sys.stderr,
        flush=True,
    )
    return Unit(wall, cpu, rss, steal, ok, layer)


def environment() -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    return {
        "cores": os.cpu_count(),
        "mem_gib": round(mem_kib / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(work, args.seed)

    t0 = time.perf_counter()
    try:
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            from spans import JobStats

            wl.enable_tracing(JobStats(wl.spark))
        if hasattr(wl, "cold_unit"):  # the first unit runs in its own process
            r = wl.cold_unit()
            cold = Unit(r["wall_s"], 0.0, r["peak_rss_mb"], 0.0, r["ok"], None)
        else:
            cold = run_unit(wl, traced=False)
        warm: list[Unit] = []
        traced: list[Unit] = []
        deadline = time.perf_counter() + args.seconds
        while True:
            use_trace = bool(args.trace) and len(traced) < len(warm)
            (traced if use_trace else warm).append(run_unit(wl, use_trace))
            # Traced runs end on an untraced unit, so the traced units
            # are bracketed by untraced ones while the JVM still warms.
            if time.perf_counter() >= deadline and (
                len(warm) > len(traced) > 0
                if args.trace
                else warm
            ):
                break
    finally:
        if hasattr(wl, "close"):
            wl.close()
        if getattr(wl, "spark", None) is not None:
            stop_spark(wl.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run's work dir is still there
            pass

    units = [cold, *warm, *traced]
    failed = sum(not u.ok for u in units)
    walls = [u.wall_s for u in warm]
    if args.trace:
        layers = [u.layer for u in traced if u.layer is not None]
        values = {
            k: statistics.median(l[k] for l in layers) for k in layers[0]
        } if layers else {}
        values["session.wall_s"] = wl.session_s
        values["trace.overhead_s"] = statistics.median(
            u.wall_s for u in traced
        ) - statistics.median(walls)
        values["trace.layers_absent"] = len(wl.absent_layers)
        declared = spec["per_layer"]
    else:
        values = {
            "wall_s": statistics.median(walls),
            "cold_wall_s": cold.wall_s,
            "cpu_s": statistics.median(u.cpu_s for u in warm),
            "setup_s": setup_s,
            "peak_rss_mb": cold.peak_rss_mb,
        }
        declared = spec["end_to_end"]
    metrics = {
        m["name"]: {
            "value": values.get(m["name"], 0) if args.trace else values[m["name"]],
            "unit": m["unit"],
        }
        for m in declared
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "cold_wall_s": cold.wall_s,
        "warm_wall_s": walls,
        "warm_cpu_s": [u.cpu_s for u in warm],
        "warm_peak_rss_mb": [u.peak_rss_mb for u in warm],
        "warm_steal_s": [u.steal_s for u in warm],
        "traced_wall_s": [u.wall_s for u in traced],
        "fail_ratio": failed / len(units),
        "absent_layers": wl.absent_layers if args.trace else None,
        "environment": environment(),
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(units),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
