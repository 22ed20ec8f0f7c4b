"""The ``registry`` workload: one pass over a pinned set of registered
queries at the sf0.01 tables shipped in ``perfbench/data``.

Each query is built through ``plans.registry.QUERIES`` and executed to a
``noop`` sink, so every output column is computed. An observation on the
same execution yields the query's fingerprint: its row count and an
order-insensitive sum of row hashes, with floating-point values rounded
to six significant digits. Each fingerprint must equal the one stored in
``fingerprints.json``. The seed sets the query order within a pass.

Traced, each query is split into plan build (the Python plan function,
including any Spark jobs it runs), Catalyst planning (analysis,
optimisation and physical planning, forced on their own) and execution.

Run as a script, this module rewrites ``fingerprints.json`` from the
current engine: ``python3 perfbench/registry_set.py``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (
    BENCH_DIR,
    WORK_ROOT,
    prepare_env,
    start_spark,
    stop_spark,
)

DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
FINGERPRINTS = os.path.join(BENCH_DIR, "fingerprints.json")

# Pinned here, not read from bench.py, so the workload stays fixed when
# the repo's other bench lists change.
QUERIES = [
    "q01_pricing_summary",
    "q08_left_join_enrich",
    "q17_global_renumber",
    "q25_star_join",
    "d07_minhash_lsh",
    "d09_ann_topk",
    "d42_shingle_containment",
    "d214_ann_adaptive_probe_search",
]

PHASES = ("build", "plan", "exec")


def observed(df, name: str):
    """(df with the fingerprint observation attached, the Observation)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        col = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            col = F.format_string("%.5e", col)  # six significant digits
        cols.append(col)
    h = F.xxhash64(F.struct(*cols))
    low = F.lit(0xFFFFFFFF)
    obs = Observation(name)
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(h.bitwiseAND(low)).alias("lo"),
            F.sum(F.shiftright(h, 32).bitwiseAND(low)).alias("hi"),
        ),
        obs,
    )


def fingerprint(obs) -> str:
    m = obs.get
    return f"{m['rows']}:{m['lo'] or 0}:{m['hi'] or 0}"


class RegistryWorkload:
    absent_layers: list[str] = []  # its spans are its own, never absent

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.session_s = 0.0
        self._n_obs = 0

    def setup(self) -> None:
        if not os.path.isdir(DATA_DIR):
            raise FileNotFoundError(DATA_DIR)
        with open(FINGERPRINTS) as fh:
            self.expected = json.load(fh)
        self.spark, self.session_s = start_spark("perfbench-registry")
        from kaggle_data_pipeline_with_aws_spark.plans import registry

        registry.load_all()
        self.plans = {q: registry.QUERIES[q] for q in self.order}

    def enable_tracing(self, jobs) -> None:
        self.jobs = jobs

    def prepare(self, traced: bool) -> None:
        self._traced = traced
        self._spans = []

    def _phase(self, query: str, phase: str) -> None:
        from spans import Span

        now = time.perf_counter()
        if self._spans:
            self._spans[-1].end = now
        self._spans.append(
            Span(f"{query}.{phase}", self.jobs.new_group(f"{query}.{phase}"), now)
        )

    def execute(self):
        observations = {}
        for query in self.order:
            if self._traced:
                self._phase(query, "build")
            df = self.plans[query](self.spark, DATA_DIR)
            if self._traced:
                self._phase(query, "plan")
            self._n_obs += 1
            df, observations[query] = observed(df, f"perfbench_fp{self._n_obs}")
            if self._traced:
                df._jdf.queryExecution().executedPlan()
                self._phase(query, "exec")
            df.write.format("noop").mode("overwrite").save()
        if self._traced:
            self._spans[-1].end = time.perf_counter()
        return observations

    def finish(self, out, wall_s: float, traced: bool):
        layer = None
        if traced:
            self.jobs.clear_group()
            self.jobs.harvest(self._spans)
            layer = self._roll_up(wall_s)
        ok = out is not None and all(
            fingerprint(obs) == self.expected[q] for q, obs in out.items()
        )
        return ok, layer

    def _roll_up(self, wall_s: float) -> dict[str, float]:
        by_name = {s.name: s for s in self._spans}
        out: dict[str, float] = {}
        for phase in PHASES:
            out[f"registry.{phase}_s"] = sum(
                by_name[f"{q}.{phase}"].seconds for q in self.order
            )
        out["registry.build_jobs"] = sum(
            by_name[f"{q}.build"].stats["jobs"] for q in self.order
        )
        out["registry.exec_jobs"] = sum(
            by_name[f"{q}.{p}"].stats["jobs"] for q in self.order for p in ("plan", "exec")
        )
        for key in ("executor_cpu_s", "shuffle_write_bytes"):
            out[f"registry.{key}"] = sum(s.stats[key] for s in self._spans)
        for q in self.order:
            out[f"{q}.build_s"] = by_name[f"{q}.build"].seconds
            out[f"{q}.exec_s"] = by_name[f"{q}.exec"].seconds
        out["trace.coverage"] = sum(s.seconds for s in self._spans) / wall_s
        return out


def _write_fingerprints() -> None:
    work = os.path.join(WORK_ROOT, f"fingerprints-{os.getpid()}")
    prepare_env(work)
    spark, _ = start_spark("perfbench-fingerprints")
    try:
        from kaggle_data_pipeline_with_aws_spark.plans import registry

        registry.load_all()
        prints = {}
        for q in QUERIES:
            df, obs = observed(registry.QUERIES[q](spark, DATA_DIR), f"fp_{q}")
            df.write.format("noop").mode("overwrite").save()
            prints[q] = fingerprint(obs)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(FINGERPRINTS, "w") as fh:
        json.dump(prints, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    _write_fingerprints()
