"""Spans around calls into the engine's layers, with Spark's own stage
metrics attributed to them through job groups.

A span is a named interval with its own job group. Jobs submitted while
a span is open run under its group; after the unit, the span's jobs and
their stages are read back from the status tracker and the JVM status
store (both work with ``spark.ui.enabled=false``). Each stage is counted
once, for the first span whose jobs list it, so a shuffle reused by a
later job is not counted twice.

``LayerTracer`` wraps engine functions by name from outside the engine.
A layer stays active from its call until the next wrapped call begins;
calls nested inside a wrapped call stay with the outer layer. A target
that no longer exists is reported as absent.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "kaggle_data_pipeline_with_aws_spark"

STAGE_FIELDS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float | None = None
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or self.start) - self.start


class JobStats:
    """Reads per-group job and stage metrics back from Spark."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = spark._jsc.sc()
        self._seen_stages: set[int] = set()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def harvest(self, spans: list[Span]) -> None:
        """Fill ``span.stats`` for every span, after Spark's listener bus
        has delivered every event of the jobs they ran."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        for span in spans:
            stats = dict.fromkeys(STAGE_FIELDS, 0.0)
            for job_id in tracker.getJobIdsForGroup(span.group):
                stats["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    if stage_id in self._seen_stages:
                        continue
                    stage = store.lastStageAttempt(stage_id)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(stage_id)
                    stats["tasks"] += stage.numTasks()
                    stats["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                    stats["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                    stats["spill_bytes"] += stage.diskBytesSpilled()
                    stats["input_bytes"] += stage.inputBytes()
                    stats["output_bytes"] += stage.outputBytes()
            span.stats = stats


def _resolve(target: str) -> list:
    """``module:attr`` or ``module:*`` (every public function defined in
    the module) -> its functions; [] when it no longer exists."""
    mod_name, _, attr = target.partition(":")
    try:
        mod = importlib.import_module(mod_name)
    except ImportError:
        return []
    if attr == "*":
        return [
            fn
            for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if fn.__module__ == mod.__name__ and not name.startswith("_")
        ]
    fn = getattr(mod, attr, None)
    return [fn] if callable(fn) else []


class LayerTracer:
    """Wraps each layer's functions, wherever the engine's modules hold
    a reference to them, and records one span per top-level call."""

    def __init__(self, jobs: JobStats, layers: dict[str, list[str]]) -> None:
        self.jobs = jobs
        self.layers = layers
        self.absent = sorted(
            layer
            for layer, targets in layers.items()
            if not any(_resolve(t) for t in targets)
        )
        self._patches: list[tuple[object, str, object]] = []
        self._depth = 0
        self._spans: list[Span] = []
        self._last_return = 0.0

    def install(self) -> None:
        modules = [
            m
            for name, m in list(sys.modules.items())
            if m is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
        ]
        for layer, targets in self.layers.items():
            for target in targets:
                for fn in _resolve(target):
                    wrapper = self._wrap(layer, fn)
                    for mod in modules:
                        for name, value in list(vars(mod).items()):
                            if value is fn:
                                self._patches.append((mod, name, fn))
                                setattr(mod, name, wrapper)

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patches):
            setattr(mod, name, fn)
        self._patches.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._depth == 0:
                self._switch(layer)
            self._depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self._last_return = time.perf_counter()

        return wrapper

    def _switch(self, layer: str) -> None:
        now = time.perf_counter()
        if self._spans:
            self._spans[-1].end = now
        self._spans.append(Span(layer, self.jobs.new_group(layer), now))

    def begin_unit(self) -> None:
        self._spans = []

    def end_unit(self, unit_wall_s: float) -> dict[str, float]:
        """Close the last span at its call's return and roll the unit's
        spans up into ``<layer>.<metric>`` values."""
        self.jobs.clear_group()
        spans = self._spans
        if spans:
            spans[-1].end = self._last_return
        self.jobs.harvest(spans)
        out: dict[str, float] = {}
        for layer in self.layers:
            mine = [s for s in spans if s.name == layer]
            out[f"{layer}.wall_s"] = sum(s.seconds for s in mine)
            for key in STAGE_FIELDS:
                out[f"{layer}.{key}"] = sum(s.stats[key] for s in mine)
        covered = sum(s.seconds for s in spans)
        out["pipeline.wall_s"] = unit_wall_s - covered
        out["trace.coverage"] = covered / unit_wall_s
        return out
