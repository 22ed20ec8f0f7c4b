"""Round-4 fourteenth wave:

- d123 — Gini coefficient of source sizes: one number for how
  unbalanced the corpus mixture is (0 = uniform, →1 = one source
  dominates), plus the per-source Lorenz shares behind it.
- d124 — length-adjusted quality residuals: regress the quality
  signal on document length once, then rank sources by mean
  residual — "is this source good FOR ITS LENGTH" rather than
  rewarding verbosity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d123 — Gini / Lorenz balance audit of the source mixture.
# ---------------------------------------------------------------------------
@spark_query(
    "d123_source_gini",
    """
    WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    r AS (
      SELECT source, n,
             row_number() OVER (ORDER BY n, source) AS i,
             count(*) OVER () AS g,
             sum(n) OVER () AS total
      FROM s
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(round(CAST(n AS DOUBLE) / total, 6) AS DOUBLE) AS share,
           CAST(round(sum(n) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
                / CAST(total AS DOUBLE), 6) AS DOUBLE) AS lorenz_cum,
           CAST(round(2.0 * sum(i * CAST(n AS DOUBLE)) OVER ()
                  / (g * total) - (g + 1.0) / g, 6) AS DOUBLE) AS gini
    FROM r ORDER BY i
    """,
)
def d123_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-balance audit: per-source share, the Lorenz cumulative
    curve, and the corpus Gini coefficient (constant column — the
    sorted-index formula 2Σi·xᵢ/(n·Σx) − (n+1)/n). All windows run
    over the SOURCE-sized aggregate (20 rows), not the corpus: the
    only row-level work is the groupBy count. The number d60's
    rebalance moves toward zero."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    w_rank = Window.orderBy("n", "source")
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    r = s.select(
        "source",
        "n",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(w_all).alias("g"),
        F.sum("n").over(w_all).alias("total"),
    )
    return r.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(
            F.sum("n").over(w_cum) / F.col("total").cast("double"), 6
        ).alias("lorenz_cum"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("n").cast("double")).over(w_all)
            / (F.col("g") * F.col("total"))
            - (F.col("g") + 1.0) / F.col("g"),
            6,
        ).alias("gini"),
    ).orderBy("lorenz_cum")


# ---------------------------------------------------------------------------
# d124 — length-adjusted quality residuals per source.
# ---------------------------------------------------------------------------
@spark_query(
    "d124_quality_residuals",
    """
    WITH f AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS y
      FROM documents
    ),
    fit AS (
      SELECT round(regr_slope(y, x), 6) AS b,
             round(regr_intercept(y, x), 6) AS a
      FROM f
    )
    SELECT f.source,
           count(*) AS n_docs,
           CAST(round(avg(f.y - (fit.a + fit.b * f.x)), 6) AS DOUBLE)
             AS mean_residual,
           CAST(round(fit.b, 6) AS DOUBLE) AS slope
    FROM f, fit
    GROUP BY f.source, fit.a, fit.b
    ORDER BY f.source
    """,
)
def d124_quality_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio falls mechanically with document length, so
    ranking sources by raw TTR rewards brevity. Fit TTR ~ length ONCE
    over the corpus (regr_slope/intercept — partial-aggregable
    sufficient statistics, one pass), broadcast the 2-float fit back,
    and report each source's MEAN RESIDUAL: above zero = richer
    vocabulary than its lengths predict. The fit is rounded before
    the residual pass so both engines subtract an identical line.
    Two corpus passes total, both one-shuffle aggregates."""
    tok = text.tokens("text")
    n = F.size(tok)
    f = load_table(spark, sf_dir, "documents").select(
        "source",
        n.cast("double").alias("x"),
        (F.size(F.array_distinct(tok)).cast("double") / n).alias("y"),
    )
    fit = f.agg(
        F.round(F.regr_slope("y", "x"), 6).alias("b"),
        F.round(F.regr_intercept("y", "x"), 6).alias("a"),
    )
    return (
        f.crossJoin(F.broadcast(fit))
        .groupBy("source", "a", "b")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.avg(F.col("y") - (F.col("a") + F.col("b") * F.col("x"))), 6
            ).alias("mean_residual"),
        )
        .select(
            "source",
            "n_docs",
            "mean_residual",
            F.round(F.col("b"), 6).alias("slope"),
        )
        .orderBy("source")
    )
