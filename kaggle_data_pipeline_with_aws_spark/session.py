"""SparkSession factory.

One place to configure the engine for both local mode (one driver JVM
with a task slot per core; the tests and benchmarks run it on a 4-core /
15 GiB host) and a real multi-executor cluster. Everything here is scale
policy, not semantics:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  join-strategy re-planning) — at 100 TB static planning is always wrong
  somewhere.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalesces from a deliberately-high initial number.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent.
- Arrow enabled for the (rare) pandas-interchange paths: the multimodal /
  embedding Pandas UDFs.
- The generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a repeated plan shape reuses its
  compiled class instead of compiling it again.

``concurrently`` runs independent branches of one driver program on
the same session at once, each branch's jobs under the caller's job
group.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import InheritableThread

# Entries in the JVM-wide cache of Janino-compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's default
# is 100). One pass over the 8 pinned registry queries needs 206 distinct
# classes and one weekly cycle 113, so at the default every warm pass
# recompiled most of what the previous pass had compiled (about 200
# classes per registry pass, 60-80 per cycle).
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _local_driver_mem_default() -> str:
    """min(32g, ~70% of physical RAM), in whole GiB (floor 1g).

    A fixed 32g default would let the JVM grow past physical memory on
    a smaller box and get OS-OOM-killed mid-task; deriving from
    MemTotal keeps the large-heap benefit where the RAM exists and
    degrades gracefully where it doesn't."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(1, min(32, int(total_gib * 0.7)))}g"
    except OSError:
        pass
    return "4g"  # /proc unavailable (non-Linux): conservative


def get_spark(
    app_name: str = "kaggle_data_pipeline_with_aws_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the core count locally. On a real
    cluster, pass a high value (e.g. 2000+) and let AQE coalesce — the
    configs below are already cluster-safe.
    """
    cpus = default_parallelism()
    n_shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    # Only force local master when nothing supplied one (spark-submit on a
    # cluster sets spark.master itself).
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        # In local mode the driver JVM IS every executor, so its heap
        # is shared by one task per core; Spark's 1g default starved
        # the hash joins (they died with GCLocker retries on a 10x
        # dataset while the machine sat at 1% memory use). On a
        # 4-core / 15 GiB host the default below is 10g. Cluster runs
        # are untouched: spark-submit owns driver/executor memory
        # there.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", _local_driver_mem_default()
            ),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def streaming_scale_conf() -> dict[str, str]:
    """Session conf for large-state streaming jobs.

    The default HDFSBackedStateStore keeps every key in executor heap —
    fine for the reference-scale workload (≤10 files/cycle), fatal for
    100 TB streams with billions of live keys (sessionization, dedup,
    stream-stream joins). RocksDB keeps state on local SSD with a block
    cache, and changelog checkpointing ships per-batch deltas instead of
    re-uploading full SST files.

    Apply via ``get_spark(extra_conf=streaming_scale_conf())`` (or
    ``spark.conf.set`` before starting the query — the provider is read
    at query start, per query).
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb"
        ".changelogCheckpointing.enabled": "true",
    }


def concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run each thunk in its own thread on ``spark``; return their
    results in argument order.

    Each thread starts with its own copy of the caller's local
    properties (job group, description, scheduler pool) and session
    tags, so the jobs it launches are attributed and cancelled with the
    caller's. Every thunk runs to its end even when another fails; then
    the first failure in argument order is re-raised. No thread outlives
    the call.
    """
    # InheritableThread, not inheritable_thread_target(spark): with
    # pinned threads off (PYSPARK_PIN_THREAD=false) the latter returns
    # the session itself instead of a wrapper.
    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # re-raised in the caller's thread
            errors[i] = e

    threads = [
        InheritableThread(run, args=(i,), session=spark)
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
