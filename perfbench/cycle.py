"""The ``weekly`` workload: one steady-state cycle of the publish pipeline.

Inputs, from the seed: a history of ``N_HISTORY`` generated Cricsheet
match files and ``N_NEW`` new files whose match ids sort after the
history and whose dates fall in the week after the newest history match
(the reference lands at most 10 files per cycle).

Set-up publishes the history, which is the state every unit restores,
and, in a second thread of the same session, rebuilds all
``N_HISTORY + N_NEW`` files from scratch; the hash of that rebuild's
published CSV rows is the oracle every cycle must match. The first
(cold) unit runs in a separate process whose JVM started alongside the
set-up and has run nothing before its cycle, as the weekly cron's has
not. The warm units then run in the set-up process, whose JVM the
history build has warmed.

A unit restores the post-history state, then runs
``pipeline.run_incremental`` and ``pipeline.version_notes``.

Run as a script, this module is the cold-unit process:
``python3 perfbench/cycle.py <work_dir>``. It starts its session, prints
``ready``, reads the oracle as one JSON line from stdin, runs one unit
and prints ``{"wall_s", "ok", "peak_rss_mb"}``.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import kill_tree, prepare_env, start_spark, stop_spark, tree_peak_rss_mb
from spans import PACKAGE as PKG, LayerTracer

N_HISTORY = 300
N_NEW = 10
FIRST_MATCH_ID = 100000  # ids stay six digits, so name order = id order

LAYERS = {
    "ledger_detect": [
        f"{PKG}.operators.ledger:read_ledger",
        f"{PKG}.pipeline:list_candidate_files",
        f"{PKG}.operators.ledger:detect_new_files",
    ],
    "scan": [f"{PKG}.sources.readers:read_json_documents"],
    "flatten": [f"{PKG}.operators.flatten:*"],
    "silver_append": [f"{PKG}.pipeline:_append_dedup"],
    "ledger_upsert": [f"{PKG}.operators.ledger:upsert_status"],
    "renumber": [f"{PKG}.materialize:matchwise_numbered"],
    "csv_write": [
        f"{PKG}.materialize:deliverywise_published",
        f"{PKG}.materialize:write_sorted_csv",
    ],
    "publish": [f"{PKG}.pipeline:version_notes"],
}


def write_inputs(landing: str, seed: int, n_history: int, n_new: int) -> None:
    """Seeded match files named ``<match_id>.json``."""
    from cricket_fixtures import make_match

    os.makedirs(landing, exist_ok=True)
    rng = random.Random(seed)
    docs = [make_match(rng, FIRST_MATCH_ID + i) for i in range(n_history)]
    newest = max(
        datetime.date.fromisoformat(d["info"]["dates"][0]) for d in docs
    )
    for k in range(n_new):
        doc = make_match(rng, FIRST_MATCH_ID + n_history + k)
        day = newest + datetime.timedelta(days=rng.randint(1, 7))
        doc["info"]["dates"] = [day.isoformat()]
        docs.append(doc)
    for doc in docs:
        name = f"{doc['info']['match_type_number']}.json"
        with open(os.path.join(landing, name), "w") as fh:
            json.dump(doc, fh)


def published_hash(output_dir: str) -> str:
    """SHA-256 of the published CSV data rows, table by table, parts in
    name order, each part's header line skipped: the same rows in the
    same global order hash alike however they are split into parts."""
    h = hashlib.sha256()
    for table in ("matchwise_data", "deliverywise_data"):
        h.update(table.encode() + b"\0")
        d = os.path.join(output_dir, table)
        for part in sorted(f for f in os.listdir(d) if f.startswith("part-")):
            with open(os.path.join(d, part), "rb") as fh:
                fh.readline()
                for line in fh:
                    h.update(line)
    return h.hexdigest()


def build_history(spark, work: str) -> dict:
    """Publish the first ``N_HISTORY`` files into ``<work>/snapshot`` and,
    in a second thread, rebuild all files from scratch into
    ``<work>/oracle``; returns the rebuild's hash and version notes."""
    from kaggle_data_pipeline_with_aws_spark.pipeline import (
        run_incremental,
        version_notes,
    )

    landing = os.path.join(work, "landing")
    snap = os.path.join(work, "snapshot")
    oracle = os.path.join(work, "oracle")
    with ThreadPoolExecutor(2) as pool:
        history = pool.submit(
            run_incremental, spark, landing, f"{snap}/state",
            f"{snap}/output", max_files_per_cycle=N_HISTORY,
        )
        full = pool.submit(
            run_incremental, spark, landing, f"{oracle}/state",
            f"{oracle}/output", max_files_per_cycle=N_HISTORY + N_NEW,
        ).result()
        history.result()
    if full.n_new_files != N_HISTORY + N_NEW:
        raise RuntimeError(f"oracle rebuild saw {full.n_new_files} files")
    notes = version_notes(full.matchwise)
    result = {"hash": published_hash(f"{oracle}/output"), "notes": notes}
    shutil.rmtree(oracle)
    return result


class Cycle:
    """One unit: restore the snapshot into ``unit_dir``, run a cycle over
    the landing zone, and check the published output."""

    def __init__(self, spark, work: str, unit_dir: str, oracle: dict) -> None:
        self.spark = spark
        self.landing = os.path.join(work, "landing")
        self.snapshot = os.path.join(work, "snapshot")
        self.state = os.path.join(unit_dir, "state")
        self.output = os.path.join(unit_dir, "output")
        self.oracle = oracle

    def restore(self) -> None:
        for name, dest in (("state", self.state), ("output", self.output)):
            shutil.rmtree(dest, ignore_errors=True)
            shutil.copytree(os.path.join(self.snapshot, name), dest)

    def run(self):
        from kaggle_data_pipeline_with_aws_spark import pipeline

        result = pipeline.run_incremental(
            self.spark, self.landing, self.state, self.output,
            max_files_per_cycle=N_NEW,
        )
        return result.n_new_files, pipeline.version_notes(result.matchwise)

    def check(self, out) -> bool:
        return (
            out is not None
            and out[0] == N_NEW
            and out[1] == self.oracle["notes"]
            and published_hash(self.output) == self.oracle["hash"]
        )


class WeeklyWorkload:
    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.tracer = None
        self.session_s = 0.0
        self.absent_layers: list[str] = []
        self._cold = None

    def setup(self) -> None:
        write_inputs(os.path.join(self.work, "landing"), self.seed, N_HISTORY, N_NEW)
        # The cold-unit process starts its JVM while this one builds.
        self._cold = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.work],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.spark, self.session_s = start_spark("perfbench-weekly")
        oracle = build_history(self.spark, self.work)
        if self._cold.stdout.readline().strip() != "ready":
            raise RuntimeError("cold-unit process did not start")
        self.cycle = Cycle(self.spark, self.work, os.path.join(self.work, "unit"), oracle)

    def cold_unit(self) -> dict:
        """Run the first unit in the cold-unit process; wait for it to end.
        Returns its ``wall_s``, ``ok`` and ``peak_rss_mb``."""
        try:
            out, _ = self._cold.communicate(
                json.dumps(self.cycle.oracle) + "\n", timeout=170
            )
        finally:
            self.close()
        if self._cold.returncode != 0:
            raise RuntimeError(f"cold-unit process exited {self._cold.returncode}")
        return json.loads(out.strip().splitlines()[-1])

    def close(self) -> None:
        if self._cold is not None and self._cold.poll() is None:
            kill_tree(self._cold)

    def enable_tracing(self, jobs) -> None:
        self.tracer = LayerTracer(jobs, LAYERS)
        self.absent_layers = self.tracer.absent

    def prepare(self, traced: bool) -> None:
        self.cycle.restore()
        if traced:
            self.tracer.install()
            self.tracer.begin_unit()

    def execute(self):
        return self.cycle.run()

    def finish(self, out, wall_s: float, traced: bool):
        layer = None
        if traced:
            self.tracer.uninstall()
            layer = self.tracer.end_unit(wall_s)
        return self.cycle.check(out), layer


def _cold_unit(work: str) -> dict:
    prepare_env(work)
    spark, _ = start_spark("perfbench-weekly-cold")
    try:
        print("ready", flush=True)
        line = sys.stdin.readline()
        if not line:  # the set-up process gave up
            return {}
        cycle = Cycle(spark, work, os.path.join(work, "cold"), json.loads(line))
        cycle.restore()
        t0 = time.perf_counter()
        try:
            out = cycle.run()
        except Exception:  # a failed unit is counted, the run goes on
            traceback.print_exc()
            out = None
        wall_s = time.perf_counter() - t0
        return {
            "wall_s": wall_s,
            "ok": cycle.check(out),
            "peak_rss_mb": tree_peak_rss_mb(),
        }
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    print(json.dumps(_cold_unit(sys.argv[1])))
