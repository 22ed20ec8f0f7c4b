"""Round-3 third wave (round-4 proof queue, continued): per-group
trend regression (q73), SCD2 state-interval construction (q74), a
watermark late-data audit (s08), a hash-sampled similarity histogram
(d80), and a single-pass column profiler (d81).

Same conventions as every wave: floats rounded to 6 decimals before
any comparison, counts cast to BIGINT on both sides, dimension-sized
intermediates broadcast, fact tables shuffled at most once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q73 — per-group linear trend: OLS slope of value over event time for
# each event type (segment-level drift detection).
# ---------------------------------------------------------------------------
@spark_query(
    "q73_value_trend_per_type",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE)
               / 86400000000.0 AS x,
             value AS y
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(y, x), 6) AS slope_per_day,
           round(regr_intercept(y, x), 6) AS intercept
    FROM pts GROUP BY event_type
    """,
)
def q73_value_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS from sufficient statistics: slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²) — five partial-agg'd sums per group, ONE shuffle of
    five doubles per (partition, group), never the points. This is how
    per-segment regression runs at 100 TB; DuckDB's regr_slope is the
    oracle's closed form of the same sums."""
    from ..functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # center at 2024-01-01 so the OLS normal equations don't cancel
    # catastrophically on epoch-sized abscissae (x becomes 0..30 days)
    x = (epoch_micros("ts") - F.lit(1_704_067_200_000_000)).cast(
        "double"
    ) / F.lit(86_400_000_000.0)
    y = F.col("value")
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    agg = pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_points").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "event_type",
        "n_points",
        F.round(slope, 6).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q74 — SCD2 interval construction: each user's event-type state as
# [valid_from, valid_to) validity windows (the slowly-changing-
# dimension build every warehouse needs).
# ---------------------------------------------------------------------------
@spark_query(
    "q74_scd2_user_state",
    """
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS valid_to
    FROM events
    """,
)
def q74_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension rows via ONE lead window per user (ordered by
    ts with event_id tiebreak — engine-deterministic); the open row's
    valid_to is NULL. One shuffle on the key; no self-join, which is
    the naive O(n²)-per-key SCD2 build this replaces."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# s08 — watermark late-data audit: events a `withWatermark(delay)`
# stream would drop, under a deterministic out-of-order arrival model
# (the harness events are generated in event-time order, so arrival
# jitter is simulated with the portable hash — reproducible in both
# engines, no RNG).
# ---------------------------------------------------------------------------
_S08_DELAY_US = 3_600_000_000  # watermark delay: 1 hour
_S08_JITTER_S = 7_200  # arrival jitter: up to 2 hours per event


@spark_query(
    "s08_late_event_audit",
    f"""
    WITH arr AS (
      SELECT event_id, user_id, ts,
             epoch_us(ts)
               + ({portable_hash_sql("'lat-' || CAST(event_id AS VARCHAR)")}
                  % {_S08_JITTER_S}) * 1000000 AS arrival_us
      FROM events
    ),
    seen AS (
      SELECT event_id, user_id, ts,
             max(epoch_us(ts)) OVER (ORDER BY arrival_us ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_seen_us
      FROM arr
    )
    SELECT event_id, user_id, ts,
           CAST(max_seen_us - epoch_us(ts) AS BIGINT) AS late_by_us
    FROM seen
    WHERE max_seen_us - epoch_us(ts) > {_S08_DELAY_US}
    """,
)
def s08_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which records would the watermark drop? late = event-time older
    than the max event-time already arrived minus the delay — exactly
    Structured Streaming's discard rule. Arrival order is simulated as
    ts + hash-jitter (deterministic, oracle-reproducible). The running
    max runs through `global_running_max`'s quantile-bucket
    decomposition (per-bucket bounded windows + a bucket-sized carry
    of earlier buckets' maxima — the d82/d93 prefix-sum discipline
    applied to MAX), so no task ever windows more than ~1/n of the
    stream. Sizing the real `withWatermark` delay IS this query
    iterated over candidate delays."""
    from ..functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    jitter = (
        F.pmod(
            portable_hash(
                F.concat(F.lit("lat-"), F.col("event_id").cast("string"))
            ),
            F.lit(_S08_JITTER_S),
        )
        * F.lit(1_000_000)
    )
    arr = ev.select(
        "event_id",
        "user_id",
        "ts",
        (epoch_micros("ts") + jitter).alias("arrival_us"),
        epoch_micros("ts").alias("ts_us"),
    )
    from ..operators.renumber import global_running_max

    seen = global_running_max(
        arr,
        [F.col("arrival_us"), F.col("event_id")],
        "ts_us",
        out_col="max_seen_us",
    )
    return (
        seen.withColumn(
            "late_by_us", F.col("max_seen_us") - F.col("ts_us")
        )
        .filter(F.col("late_by_us") > _S08_DELAY_US)
        .select("event_id", "user_id", "ts", "late_by_us")
    )


# ---------------------------------------------------------------------------
# d80 — cosine-similarity histogram from a hash-deterministic √n
# sample (the corpus-geometry audit: is the embedding space collapsing?).
# ---------------------------------------------------------------------------
_D80_PCT = 9  # ~sqrt(500)/500 ≈ 9% of vectors → ~45·44/2 ≈ 990 pairs

_DOT80 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM80 = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


@spark_query(
    "d80_similarity_histogram",
    f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {portable_hash_sql("'simsamp-' || CAST(vec_id AS VARCHAR)")}
            % 100 < {_D80_PCT}
    ),
    pairs AS (
      SELECT floor(round({_DOT80} / ({_NORM80.format(v='a')} * {_NORM80.format(v='b')}), 6) * 10)
               AS bucket
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def d80_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ONLY within a hash-deterministic ~√n sample
    (sample² ≈ n pairs — same total work as one corpus scan), bucketed
    to a 21-bin histogram of cos·10. The sample is reproducible
    (portable hash, no RNG), so the audit is value-checkable and
    re-runs identically on retries; the corpus itself is never joined
    against itself."""
    from ..operators.similarity import cosine_vectorized

    e = load_table(spark, sf_dir, "embeddings")
    s = e.filter(
        F.pmod(
            portable_hash(
                F.concat(F.lit("simsamp-"), F.col("vec_id").cast("string"))
            ),
            F.lit(100),
        )
        < _D80_PCT
    ).select("vec_id", "embedding")
    a = s.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = s.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(
            F.floor(
                F.round(cosine_vectorized(F.col("va"), F.col("vb")), 6) * 10
            ).alias("bucket")
        )
    )
    return pairs.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# d81 — single-pass column profiler over the orders table (null counts,
# distinct counts, min/max) in long format — the data-quality snapshot
# a pipeline records per ingest batch.
# ---------------------------------------------------------------------------
_D81_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _d81_oracle() -> str:
    selects = []
    for c in _D81_COLS:
        selects.append(
            f"""SELECT '{c}' AS column_name,
            CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_nulls,
            CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
            CAST(min({c}) AS VARCHAR) AS min_value,
            CAST(max({c}) AS VARCHAR) AS max_value
            FROM orders"""
        )
    return " UNION ALL ".join(selects)


@spark_query("d81_column_profile", _d81_oracle())
def d81_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE aggregation pass computes every column's stats (the oracle's
    UNION ALL of six scans states the semantics; Spark executes the
    fused form): count_distinct/null-sum/min/max per column in a single
    groupBy-less agg, then an Expand (stack) unpivots to long format —
    6 rows out, one scan in, regardless of table width×depth."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _D81_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _D81_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_D81_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )
