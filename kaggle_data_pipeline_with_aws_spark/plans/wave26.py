"""Round-4 seventeenth wave:

- q110 — RFM segmentation: recency / frequency / monetary quintile
  scores per user, with every quintile computed by the quantile-
  bucket prefix-sum rank (the d82/d93 discipline) — no user-sized
  ntile window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import epoch_micros
from ..operators.renumber import contiguous_row_number
from ..sources.readers import load_table
from .registry import spark_query


_Q = 5  # quintiles


def _rfm_oracle() -> str:
    # ranks ascending on (metric, user_id); scores: higher = better,
    # so recency ranks ascending on days-since (small = recent = rank
    # low → score high via reversed quintile), frequency/monetary
    # ascending → high rank = high score.
    return f"""
    WITH mx AS (SELECT max(ts) AS now FROM events),
    u AS (
      SELECT user_id,
             CAST((epoch_us((SELECT now FROM mx)) - epoch_us(max(ts)))
                  // 86400000000 AS BIGINT) AS r_days,
             count(*) AS f_n,
             round(sum(value), 2) AS m_sum
      FROM events GROUP BY user_id
    ),
    n AS (SELECT count(*) AS total FROM u),
    rr AS (
      SELECT user_id, r_days, f_n, m_sum,
             row_number() OVER (ORDER BY r_days ASC, user_id ASC) AS rk_r,
             row_number() OVER (ORDER BY f_n ASC, user_id ASC) AS rk_f,
             row_number() OVER (ORDER BY m_sum ASC, user_id ASC) AS rk_m
      FROM u
    )
    SELECT user_id, r_days, CAST(f_n AS BIGINT) AS f_n,
           CAST(m_sum AS DOUBLE) AS m_sum,
           CAST({_Q} + 1 - ceil(rk_r * {_Q} / CAST(total AS DOUBLE))
                AS BIGINT) AS r_score,
           CAST(ceil(rk_f * {_Q} / CAST(total AS DOUBLE)) AS BIGINT)
             AS f_score,
           CAST(ceil(rk_m * {_Q} / CAST(total AS DOUBLE)) AS BIGINT)
             AS m_score
    FROM rr, n ORDER BY user_id
    """


@spark_query("q110_rfm_segments", _rfm_oracle())
def q110_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary scoring — the marketing-analytics
    staple. Per-user metrics come from ONE event pass (max ts, count,
    rounded sum); each quintile is an exact global rank via
    `contiguous_row_number`'s quantile-bucket prefix-sum, so the
    user table (data-sized at 100 TB — users grow with the data,
    unlike dimensions) never sorts through one task. Score = quintile
    of the rank (ceil(rk·5/n)); recency reverses (recent = high).
    Rounded monetary before ranking keeps the order engine-stable."""
    ev = load_table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now"))
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("f_n"),
            F.round(F.sum("value"), 2).alias("m_sum"),
        )
        .crossJoin(F.broadcast(now))
        .select(
            "user_id",
            (
                (epoch_micros(F.col("now")) - epoch_micros(F.col("last_ts")))
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("r_days"),
            "f_n",
            "m_sum",
        )
    )
    # three rank passes each run a boundary-quantile job — checkpoint
    # the (already user-sized) metric table once so they don't
    # re-aggregate the event scan per pass
    u = u.localCheckpoint(eager=True)
    total = u.agg(F.count("*").alias("total"))
    ranked = u
    for rk_col, keys in [
        ("rk_r", [F.col("r_days"), F.col("user_id")]),
        ("rk_f", [F.col("f_n"), F.col("user_id")]),
        ("rk_m", [F.col("m_sum"), F.col("user_id")]),
    ]:
        ranked = contiguous_row_number(ranked, keys, out_col=rk_col)
    quint = lambda rk: F.ceil(  # noqa: E731
        F.col(rk) * _Q / F.col("total").cast("double")
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "r_days",
            "f_n",
            "m_sum",
            (F.lit(_Q + 1) - quint("rk_r")).alias("r_score"),
            quint("rk_f").alias("f_score"),
            quint("rk_m").alias("m_score"),
        )
        .orderBy("user_id")
    )
