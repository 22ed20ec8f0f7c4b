"""The session factory's scale policy, checked against the running JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F


def _compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_pass_compiles_nothing(spark):
    """A working set of generated classes larger than Spark's 100-entry
    default codegen cache stays cached: the second pass over the same
    60 plan shapes (about 2 classes each) compiles no class again."""

    def one_pass():
        for i in range(60):
            spark.range(3).select(
                (F.col("id") * F.lit(i)).alias("x")
            ).collect()

    one_pass()
    first = _compiled_classes(spark)
    one_pass()
    assert _compiled_classes(spark) - first == 0


def test_concurrently_runs_without_pinned_threads():
    """With PySpark's pinned-thread mode off, ``concurrently`` still runs
    every thunk and returns their results in argument order (a fresh
    process: the mode is fixed when the gateway starts)."""
    script = textwrap.dedent(
        """
        from kaggle_data_pipeline_with_aws_spark.session import (
            concurrently,
            get_spark,
        )

        spark = get_spark("unpinned", shuffle_partitions=1)
        print(concurrently(spark, lambda: spark.range(7).count(), lambda: "b"))
        spark.stop()
        """
    )
    env = {
        **os.environ,
        "PYSPARK_PIN_THREAD": "false",
        "PYTHONPATH": str(Path(__file__).resolve().parents[1]),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert out.stdout.splitlines()[-1] == "[7, 'b']"
