"""Scalable global scans: contiguous row numbering (SURVEY §2.6 W2),
running totals and running maxima over a total order.

The reference re-assigns ``match_number = range(1, n+1)`` after a global
sort (``convert_mongo_db_data_to_csv_lambda.py:43-44``) — a total-order-
defined dense sequence over the whole table. The naive Spark translation,
``row_number().over(Window.orderBy(...))``, collapses the entire dataset
into ONE partition (Spark must see a global order), which is fine at 3k
rows and fatal at 100 TB.

Every scan here takes one path (deterministic range bucketing + a scan
over the per-bucket totals):

1. One tiny aggregate job computes approximate quantile *boundaries* of
   the leading sort key (over a column-pruned scan) and bakes them into
   the plan as literals. Because the boundaries are fixed constants —
   unlike ``repartitionByRange``, which re-SAMPLES per action — every
   pass assigns each row to the same order-aligned bucket, so nothing
   needs to be persisted for cross-action stability.
2. A window ``PARTITION BY bucket ORDER BY keys`` scans rows inside each
   bucket. This is the only full-row shuffle, and bucket populations
   are quantile-balanced, so no single task sorts more than ~1/n of the
   data (vs. the single-partition global window).
3. Per-bucket totals are scanned over all earlier buckets by a window
   over the tiny (one row per bucket) total table — entirely inside the
   same plan, no driver collect — and broadcast-joined back:
   ``global = combine(carry[bucket], local)``.

Non-numeric leading keys get an order-preserving numeric surrogate
(dates → epoch days, timestamps → microseconds, strings → first 6 UTF-8
bytes packed into a bigint; ties in the surrogate only merge buckets,
never reorder them, so correctness is unaffected). A leading key with no
surrogate (binary, arrays, structs) is one bucket: the same path then
runs as the single global window.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import epoch_micros

# percentile_approx accuracy for the bucket boundaries. Boundaries only
# have to BALANCE the buckets, not be precise quantiles — any monotone
# cut gives the same numbers — so ~1,000 (≈0.1% relative rank error)
# keeps the buckets within noise of even at a 10× smaller sketch than
# Spark's 10,000 default.
_ACCURACY = 1_000


def _order_surrogate(col: Column, dtype: T.DataType) -> Column | None:
    """A numeric column that is monotone non-decreasing in ``col``'s
    sort order (ties allowed — equal surrogates land in one bucket and
    are ordered by the real keys there)."""
    if isinstance(dtype, T.NumericType):
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
        packed = F.rpad(F.hex(F.substring(col.cast("binary"), 1, 6)), 12, "0")
        return F.conv(packed, 16, 10).cast("bigint")
    return None


def _bucket(df: DataFrame, order_by: list[str | Column]) -> Column:
    """The int bucket column: ``defaultParallelism`` order-aligned
    quantile ranges of the leading sort key, with boundaries baked in as
    literals. A single bucket (and no quantile job) when the leading key
    has no numeric surrogate."""
    n = df.sparkSession.sparkContext.defaultParallelism
    first = order_by[0]
    fcol = F.col(first) if isinstance(first, str) else first
    dtype = df.select(fcol.alias("__k")).schema[0].dataType
    surr = _order_surrogate(fcol, dtype)
    if surr is None:
        return F.lit(0)

    # One small job: boundary quantiles over a pruned scan. Baked in as
    # literals ⇒ deterministic bucket assignment across all later passes.
    probs = F.array(*[F.lit(i / n) for i in range(1, n)] or [F.lit(0.5)])
    cuts = F.percentile_approx(surr, probs, F.lit(_ACCURACY)).alias("__b")
    bounds = sorted(set(df.select(cuts).first()["__b"] or []))  # NULL if empty
    bucket = F.when(surr.isNull(), F.lit(0))  # nulls sort first
    for i, b in enumerate(bounds):
        bucket = bucket.when(surr < F.lit(b), F.lit(i))
    return bucket.otherwise(F.lit(len(bounds))).cast("int")


def _global_scan(
    df: DataFrame,
    order_by: list[str | Column],
    out_col: str,
    local: Callable[[WindowSpec], Column],
    total: Column,
    carry: Callable[[WindowSpec], Column],
    combine: Callable[[Column, Column], Column],
) -> DataFrame:
    """The one bucketed decomposition behind every scan here.

    ``local(w)`` scans the rows of a bucket under ``w`` (``PARTITION BY
    __bucket ORDER BY order_by``) into ``__local``; ``total`` folds a
    whole bucket into ``__n``; ``carry(w)`` folds ``__n`` over all
    earlier buckets (``w`` frames them) into ``__offset``, which joins
    back as a broadcast; ``out_col = combine(__offset, __local)``.
    Exact because buckets follow the order and surrogate ties share a
    bucket: every earlier row is either in this bucket or an earlier one.
    """
    bucketed = df.withColumn("__bucket", _bucket(df, order_by))
    totals = bucketed.groupBy("__bucket").agg(total.alias("__n"))
    earlier = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select("__bucket", carry(earlier).alias("__offset"))
    in_bucket = Window.partitionBy("__bucket").orderBy(*order_by)
    return (
        bucketed.withColumn("__local", local(in_bucket))
        .join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, combine(F.col("__offset"), F.col("__local")))
        .drop("__bucket", "__local", "__offset")
    )


def _sum_of_earlier(earlier: WindowSpec) -> Column:
    """Sum of the earlier buckets' totals; 0 for the first bucket."""
    return F.coalesce(F.sum("__n").over(earlier), F.lit(0))


def _add(offset: Column, local: Column) -> Column:
    return (offset + local).cast("long")


def contiguous_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    out_col: str = "row_number",
) -> DataFrame:
    """Add a dense 1..N column defined by a total order.

    ``order_by`` must be a total order (include a unique tie-breaker
    key) — same requirement the reference's sort-then-range has
    implicitly via ``(date, match_id)``.
    """
    return _global_scan(
        df, order_by, out_col, lambda w: F.row_number().over(w),
        total=F.count("*"), carry=_sum_of_earlier, combine=_add,
    )


def global_prefix_sum(
    df: DataFrame,
    order_by: list[str | Column],
    weight_col: str,
    out_col: str = "cum_weight",
) -> DataFrame:
    """Running total of ``weight_col`` under a global total order — the
    weighted generalization of ``contiguous_row_number``. No
    single-partition global window at any size.

    ``order_by`` must be ascending and a total order (unique
    tie-breaker last). With an exact-integer weight the running total
    is bit-exact — the bucket decomposition only reorders integer
    additions.
    """
    return _global_scan(
        df, order_by, out_col,
        lambda w: F.sum(weight_col).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
        total=F.sum(weight_col), carry=_sum_of_earlier, combine=_add,
    )


def global_running_max(
    df: DataFrame,
    order_by: list[str | Column],
    value_col: str,
    out_col: str = "running_max",
) -> DataFrame:
    """Exact ``max(value) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` — strictly-preceding running max over
    a TOTAL order — without the single-partition window.

    Inside a bucket the window stops one row short; earlier buckets
    carry their maximum in, and ``greatest`` skips a NULL side. Rows
    with no predecessor (the global first; ties handled by the full
    ``order_by`` inside the bucket) get NULL, matching the global
    window's semantics.
    """
    return _global_scan(
        df, order_by, out_col,
        lambda w: F.max(value_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        total=F.max(value_col), combine=F.greatest,
        carry=lambda earlier: F.max("__n").over(earlier),
    )
