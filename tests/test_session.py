"""The session factory's scale policy, checked against the running JVM."""

from __future__ import annotations

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
