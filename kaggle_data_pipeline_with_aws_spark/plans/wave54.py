"""Round-8 wave 54 — sequential monitoring + conformal inference:

- d194 — CUSUM drift monitor over daily value means, EXACT-INTEGER
  arithmetic end to end. The textbook recurrence
  S_t = max(0, S_{t-1} + y_t) looks inherently sequential; it
  rewrites to the prefix-scan identity
  S_t = C_t - min(0, min_{j<=t} C_j) (C = cumulative sum of y), so
  the monitor is two windows over the day-bounded daily table — the
  repo's signature recurrence-to-prefix-scan move (W2, s08, q30).
- d195 — split-conformal calibration of a linear length→token model:
  OLS fitted from exact integer sums on a hash-split calibration
  half, the 90% conformal quantile taken as a type-1 order statistic
  of integer micro-residuals, and the empirical coverage measured on
  the held-out half (distribution-free ~90% by exchangeability).

Reference scope: beyond-reference analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import portable_hash, portable_hash_sql, token_count
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d194 — CUSUM drift monitor (exact-integer prefix-scan form).
# ---------------------------------------------------------------------------
@spark_query(
    "d194_cusum_drift",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(sum(CAST(round(value * 1000000.0) AS BIGINT))
                  AS BIGINT) AS v6sum,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(round(CAST(sum(v6sum) AS DOUBLE) / sum(n)) AS BIGINT)
               AS target
      FROM daily
    ),
    x AS (
      SELECT day, CAST(round(CAST(v6sum AS DOUBLE) / n) AS BIGINT)
               AS mean_e6
      FROM daily
    ),
    y AS (
      SELECT day, mean_e6,
             mean_e6 - target - abs(target) // 20 AS y_up,
             target - mean_e6 - abs(target) // 20 AS y_dn,
             abs(target) // 10 AS h
      FROM x CROSS JOIN tot
    ),
    c AS (
      SELECT day, mean_e6, h,
             sum(y_up) OVER w AS c_up,
             sum(y_dn) OVER w AS c_dn
      FROM y
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day, mean_e6,
           CAST(c_up - least(CAST(0 AS BIGINT),
                        min(c_up) OVER w) AS BIGINT) AS s_up_e6,
           CAST(c_dn - least(CAST(0 AS BIGINT),
                        min(c_dn) OVER w) AS BIGINT) AS s_dn_e6,
           (c_up - least(CAST(0 AS BIGINT), min(c_up) OVER w)) > h
             AS alarm_up,
           (c_dn - least(CAST(0 AS BIGINT), min(c_dn) OVER w)) > h
             AS alarm_dn
    FROM c
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def d194_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM control chart over daily mean event values —
    in exact micro-unit integers, so the whole chart is value-oracled
    bit-for-bit (target and daily means integerized by the shared
    round-half-away rule; slack k = |target|/20 and threshold
    h = |target|/10 by integer division). The sequential recurrence
    S_t = max(0, S_{t-1} + y_t) is computed as the prefix-scan
    identity S_t = C_t - min(0, min-prefix(C)) — two cumulative
    windows over the day-bounded daily table, so a year of 100 TB
    telemetry costs one corpus collapse plus windows over ~365
    rows."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 1000000.0).cast("long")
            ).alias("v6sum"),
            F.count("*").alias("n"),
        )
    )
    tot = daily.agg(
        F.round(
            F.sum("v6sum").cast("double") / F.sum("n")
        )
        .cast("long")
        .alias("target")
    )
    x = daily.select(
        "day",
        F.round(F.col("v6sum").cast("double") / F.col("n"))
        .cast("long")
        .alias("mean_e6"),
    ).crossJoin(F.broadcast(tot))
    y = x.select(
        "day",
        "mean_e6",
        (
            F.col("mean_e6")
            - F.col("target")
            - F.expr("abs(target) DIV 20")
        ).alias("y_up"),
        (
            F.col("target")
            - F.col("mean_e6")
            - F.expr("abs(target) DIV 20")
        ).alias("y_dn"),
        F.expr("abs(target) DIV 10").alias("h"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = y.select(
        "day",
        "mean_e6",
        "h",
        F.sum("y_up").over(w).alias("c_up"),
        F.sum("y_dn").over(w).alias("c_dn"),
    )
    s_up = F.col("c_up") - F.least(
        F.lit(0).cast("long"), F.min("c_up").over(w)
    )
    s_dn = F.col("c_dn") - F.least(
        F.lit(0).cast("long"), F.min("c_dn").over(w)
    )
    return c.select(
        "day",
        "mean_e6",
        s_up.alias("s_up_e6"),
        s_dn.alias("s_dn_e6"),
        (s_up > F.col("h")).alias("alarm_up"),
        (s_dn > F.col("h")).alias("alarm_dn"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# d195 — split-conformal calibration of a linear length→token model.
# ---------------------------------------------------------------------------
_CONF_LEVEL_NUM = 9  # coverage level 9/10
_CONF_SPLIT_MOD = 2  # hash % 2 == 0 → calibration half


def _d195_oracle() -> str:
    h = portable_hash_sql("'conf|' || CAST(doc_id AS VARCHAR)")
    return f"""WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS y,
             ({h}) % {_CONF_SPLIT_MOD} = 0 AS is_cal
      FROM documents
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM d WHERE is_cal
    ),
    ab AS (
      SELECT n AS n_cal,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS beta,
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                * sx) / n AS alpha
      FROM fit
    ),
    res AS (
      SELECT d.is_cal,
             CAST(round(abs(CAST(y AS DOUBLE) - (alpha + beta * x))
                        * 1000000.0) AS BIGINT) AS r6
      FROM d CROSS JOIN ab
    ),
    kq AS (
      SELECT CAST(ceil({_CONF_LEVEL_NUM} / 10.0 * (n_cal + 1)) AS BIGINT)
               AS k
      FROM ab
    ),
    cal_cum AS (
      SELECT r6, sum(c) OVER (ORDER BY r6
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM (SELECT r6, count(*) AS c FROM res WHERE is_cal GROUP BY r6)
    ),
    q AS (
      SELECT min(r6) AS q6 FROM cal_cum CROSS JOIN kq WHERE cum >= k
    )
    SELECT ab.n_cal,
           (SELECT CAST(count(*) AS BIGINT) FROM res WHERE NOT is_cal)
             AS n_test,
           round(beta, 6) AS beta,
           round(alpha, 6) AS alpha,
           q.q6 AS q_conformal_e6,
           round((SELECT CAST(sum(CASE WHEN r6 <= q.q6 THEN 1 ELSE 0 END)
                              AS DOUBLE) FROM res WHERE NOT is_cal)
                 / (SELECT count(*) FROM res WHERE NOT is_cal), 6)
             AS test_coverage
    FROM ab CROSS JOIN q
    """


@spark_query("d195_conformal_calibration", _d195_oracle())
def d195_conformal_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction interval for a linear
    chars→tokens model: OLS coefficients from EXACT integer sums on
    the hash-selected calibration half, the 90% conformal quantile as
    the type-1 order statistic ceil(0.9*(n+1)) of integer
    micro-residuals (cumulative walk over the residual-distinct
    table, the d147 pattern), and empirical coverage on the held-out
    half — distribution-free ~90% guarantee by exchangeability, now
    an oracle-checkable number. One scan fits (map-side partial
    sums), one scores; the only ordered work runs on the
    distinct-residual table."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        token_count("text").alias("y"),
        (
            portable_hash(
                F.concat(F.lit("conf|"), F.col("doc_id").cast("string"))
            )
            % _CONF_SPLIT_MOD
            == 0
        ).alias("is_cal"),
    )
    fit = d.filter("is_cal").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    ab = fit.select(
        F.col("n").alias("n_cal"),
        beta.alias("beta"),
        (
            (F.col("sy").cast("double") - beta * F.col("sx"))
            / F.col("n")
        ).alias("alpha"),
    )
    res = d.crossJoin(F.broadcast(ab)).select(
        "is_cal",
        "n_cal",
        F.round(
            F.abs(
                F.col("y").cast("double")
                - (F.col("alpha") + F.col("beta") * F.col("x"))
            )
            * 1000000.0
        )
        .cast("long")
        .alias("r6"),
    ).localCheckpoint()
    k = F.ceil(
        F.lit(_CONF_LEVEL_NUM / 10.0) * (F.col("n_cal") + 1)
    ).cast("long")
    cal_counts = (
        res.filter("is_cal").groupBy("r6").agg(F.count("*").alias("c"))
    )
    wcum = Window.orderBy("r6").rowsBetween(Window.unboundedPreceding, 0)
    cal_cum = cal_counts.select(
        "r6", F.sum("c").over(wcum).alias("cum")
    )
    q = (
        cal_cum.crossJoin(F.broadcast(ab.select(k.alias("k"))))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("r6").alias("q6"))
    )
    test = res.filter(~F.col("is_cal"))
    cov = test.crossJoin(F.broadcast(q)).agg(
        F.count("*").alias("n_test"),
        F.round(
            F.sum(
                F.when(F.col("r6") <= F.col("q6"), 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("test_coverage"),
    )
    return (
        ab.select(
            "n_cal",
            F.round("beta", 6).alias("beta"),
            F.round("alpha", 6).alias("alpha"),
        )
        .crossJoin(F.broadcast(q.select(F.col("q6").alias("q_conformal_e6"))))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal",
            "n_test",
            "beta",
            "alpha",
            "q_conformal_e6",
            "test_coverage",
        )
    )
