"""Scalable contiguous global row numbering (SURVEY §2.6 W2).

The reference re-assigns ``match_number = range(1, n+1)`` after a global
sort (``convert_mongo_db_data_to_csv_lambda.py:43-44``) — a total-order-
defined dense sequence over the whole table. The naive Spark translation,
``row_number().over(Window.orderBy(...))``, collapses the entire dataset
into ONE partition (Spark must see a global order), which is fine at 3k
rows and fatal at 100 TB.

Scale path (deterministic range bucketing + per-bucket prefix sum):

1. One tiny aggregate job computes approximate quantile *boundaries* of
   the leading sort key (over a column-pruned scan) and bakes them into
   the plan as literals. Because the boundaries are fixed constants —
   unlike ``repartitionByRange``, which re-SAMPLES per action — every
   pass assigns each row to the same order-aligned bucket, so nothing
   needs to be persisted for cross-action stability.
2. ``row_number() OVER (PARTITION BY bucket ORDER BY keys)`` numbers
   rows inside each bucket. This is the only full-row shuffle, and
   bucket populations are quantile-balanced, so no single task sorts
   more than ~1/n of the data (vs. the single-partition global window).
3. Per-bucket counts are prefix-summed into offsets by a window over
   the tiny (one row per bucket) count table — entirely inside the same
   plan, no driver collect — and broadcast-joined back:
   ``global = offset[bucket] + local``.

Non-numeric leading keys get an order-preserving numeric surrogate
(dates → epoch days, timestamps → microseconds, strings → first 6 UTF-8
bytes packed into a bigint; ties in the surrogate only merge buckets,
never reorder them, so correctness is unaffected).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import epoch_micros


def _order_surrogate(col: Column, dtype: T.DataType) -> Column | None:
    """A numeric column that is monotone non-decreasing in ``col``'s
    sort order (ties allowed — equal surrogates land in one bucket and
    are ordered by the real keys there)."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType)):
        return col
    if isinstance(dtype, T.BooleanType):
        return col.cast("int")
    if isinstance(dtype, T.DateType):
        return F.unix_date(col)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return epoch_micros(col)
    if isinstance(dtype, T.StringType):
        # Spark compares strings by UTF-8 bytes; pack the first 6 bytes
        # (right-padded) into a bigint — monotone w.r.t. the string order.
        return F.conv(
            F.rpad(F.hex(F.substring(col.cast("binary"), 1, 6)), 12, "0"),
            16,
            10,
        ).cast("bigint")
    return None


def _bucket(
    df: DataFrame,
    order_by: list[str | Column],
    num_partitions: int | None,
    accuracy: int,
) -> Column | None:
    """The int bucket column: ``n`` order-aligned quantile ranges of the
    leading sort key, with boundaries baked in as literals. ``None``
    when the leading key has no numeric surrogate (the caller falls
    back to a single global window)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    first = order_by[0]
    fcol = F.col(first) if isinstance(first, str) else first
    dtype = df.select(fcol.alias("__k")).schema[0].dataType
    surr = _order_surrogate(fcol, dtype)
    if surr is None:
        return None

    # One small job: boundary quantiles over a pruned scan. Baked in as
    # literals ⇒ deterministic bucket assignment across all later passes.
    probs = [i / n for i in range(1, n)] or [0.5]
    row = df.select(
        F.percentile_approx(
            surr, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
        ).alias("__b")
    ).first()
    quantiles = row["__b"] if row is not None and row["__b"] is not None else []
    bounds = sorted({b for b in quantiles if b is not None})

    if bounds:
        bucket = F.when(surr.isNull(), F.lit(0))  # nulls sort first
        for i, b in enumerate(bounds):
            bucket = bucket.when(surr < F.lit(b), F.lit(i))
        bucket = bucket.otherwise(F.lit(len(bounds)))
    else:
        bucket = F.lit(0)
    return bucket.cast("int")


def contiguous_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    out_col: str = "row_number",
    num_partitions: int | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Add a dense 1..N column defined by a total order.

    ``order_by`` must be a total order (include a unique tie-breaker
    key) — same requirement the reference's sort-then-range has
    implicitly via ``(date, match_id)``.

    ``accuracy`` feeds ``percentile_approx`` for the bucket boundaries.
    Boundaries only have to BALANCE the buckets, not be precise
    quantiles — any monotone cut is correct — so ~1,000 (≈0.1% relative
    rank error) keeps the ~n buckets within noise of even while the
    boundary job's sketch is 10× smaller. The weekly cycle uses the
    10,000 default.
    """
    bucket = _bucket(df, order_by, num_partitions, accuracy)
    if bucket is None:  # exotic leading key type: correctness-first fallback
        return _single_window_row_number(df, order_by, out_col)

    bucketed = df.withColumn("__bucket", bucket)
    local = F.row_number().over(
        Window.partitionBy("__bucket").orderBy(*order_by)
    )
    counts = bucketed.groupBy("__bucket").agg(F.count("*").alias("__n"))
    prefix = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__bucket",
        F.coalesce(F.sum("__n").over(prefix), F.lit(0)).alias("__offset"),
    )
    return (
        bucketed.withColumn("__local", local)
        .join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, (F.col("__offset") + F.col("__local")).cast("long"))
        .drop("__bucket", "__local", "__offset")
    )


def _single_window_row_number(
    df: DataFrame, order_by: list[str | Column], out_col: str
) -> DataFrame:
    """Global window fallback (single partition) — only for leading key
    types with no numeric surrogate; correct at any size, slow at scale."""
    return df.withColumn(
        out_col, F.row_number().over(Window.orderBy(*order_by)).cast("long")
    )


def global_prefix_sum(
    df: DataFrame,
    order_by: list[str | Column],
    weight_col: str,
    out_col: str = "cum_weight",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total of ``weight_col`` under a global total order — the
    weighted generalization of ``contiguous_row_number``, same
    scale shape: quantile-bucket the leading key (ascending), cumsum
    within buckets, add broadcast per-bucket total offsets. No
    single-partition global window at any size.

    ``order_by`` must be ascending and a total order (unique
    tie-breaker last). With an exact-integer weight the running total
    is bit-exact — the bucket decomposition only reorders integer
    additions.
    """
    bucket = _bucket(df, order_by, num_partitions, 10_000)
    if bucket is None:  # exotic leading key: correctness-first fallback
        return df.withColumn(
            out_col,
            F.sum(weight_col)
            .over(
                Window.orderBy(*order_by).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("long"),
        )

    bucketed = df.withColumn("__bucket", bucket)
    local = F.sum(weight_col).over(
        Window.partitionBy("__bucket")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = bucketed.groupBy("__bucket").agg(
        F.sum(weight_col).alias("__w")
    )
    prefix = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__bucket",
        F.coalesce(F.sum("__w").over(prefix), F.lit(0)).alias("__offset"),
    )
    return (
        bucketed.withColumn("__local", local)
        .join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, (F.col("__offset") + F.col("__local")).cast("long"))
        .drop("__bucket", "__local", "__offset")
    )


def global_running_max(
    df: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``max(value) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` — strictly-preceding running max over
    a TOTAL order — without the single-partition window.

    Same decomposition as ``contiguous_row_number``: quantile-bucket
    the leading key, run the bounded window INSIDE each bucket, and carry
    the maximum of all EARLIER buckets in via a bucket-sized prefix
    window + broadcast join — ``greatest(carry, within)``. Rows with
    no predecessor (the global first; ties handled by the full
    ``order_by`` inside the bucket) get NULL, matching the global
    window's semantics. Because the surrogate is monotone and ties
    share a bucket, every strictly-preceding row is either in the same
    bucket (covered by the local window) or an earlier bucket
    (covered by the carry) — exact.
    """
    bucket = _bucket(df, order_by, num_partitions, 10_000)
    if bucket is None:
        w = Window.orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return df.withColumn(out_col, F.max(value_col).over(w))

    bucketed = df.withColumn("__rbucket", bucket)
    w_in = Window.partitionBy("__rbucket").orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = F.max(value_col).over(w_in)
    per_bucket = bucketed.groupBy("__rbucket").agg(
        F.max(value_col).alias("__bmax")
    )
    w_prev = Window.orderBy("__rbucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = per_bucket.select(
        "__rbucket", F.max("__bmax").over(w_prev).alias("__carry")
    )
    return (
        bucketed.withColumn("__within", within)
        .join(F.broadcast(carries), "__rbucket")
        .withColumn(out_col, F.greatest("__carry", "__within"))
        .drop("__rbucket", "__within", "__carry")
    )
