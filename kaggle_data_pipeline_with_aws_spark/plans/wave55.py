"""Round-8 wave 55 — eval-tier completion:

- d196 — precision/recall threshold selection for MinHash dedup: on
  d61's (estimated, true) Jaccard pair table, sweep every observed
  estimate value as a decision threshold and report TP/FP/FN,
  precision, recall, F1 (computed as the exact rational
  2TP/(2TP+FP+FN) — no intermediate p/r division), flagging the
  F1-optimal threshold — the missing PR-curve next to d112
  (calibration), d134 (NDCG), and d59 (recall@k). This is THE number
  a dedup run tunes before committing 100 TB to a threshold.
- d197 — stratified Poisson-bootstrap confidence intervals: d180's
  machinery per SOURCE (30 replicates each), with per-stratum SE and
  type-1 order-statistic 90% intervals — per-group inference where
  d180 gave the corpus-level answer.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query
from .wave47 import _BOOT_T, _boot_w_case


# ---------------------------------------------------------------------------
# d196 — PR-curve threshold selection for MinHash dedup.
# ---------------------------------------------------------------------------
_PR_TRUE_CUT = 0.7  # true-duplicate label: exact Jaccard >= 0.7


def _d196_oracle() -> str:
    from .retrieval import _lsh_error_oracle

    return f"""WITH t AS ({_lsh_error_oracle()}),
    lab AS (
      SELECT est_jaccard, true_jaccard >= {_PR_TRUE_CUT} AS pos FROM t
    ),
    th AS (SELECT DISTINCT est_jaccard AS threshold FROM lab),
    sweep AS (
      SELECT th.threshold,
             CAST(sum(CASE WHEN lab.est_jaccard >= th.threshold
                            AND lab.pos THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
             CAST(sum(CASE WHEN lab.est_jaccard >= th.threshold
                            AND NOT lab.pos THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
             CAST(sum(CASE WHEN lab.est_jaccard < th.threshold
                            AND lab.pos THEN 1 ELSE 0 END) AS BIGINT)
               AS fn
      FROM th CROSS JOIN lab GROUP BY th.threshold
    ),
    scored AS (
      SELECT threshold, tp, fp, fn,
             round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
             CASE WHEN tp + fn = 0 THEN NULL
                  ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6)
             END AS recall,
             CASE WHEN tp = 0 THEN 0.0
                  ELSE round(2.0 * tp / (2.0 * tp + fp + fn), 6)
             END AS f1
      FROM sweep
    )
    SELECT threshold, tp, fp, fn, precision, recall, f1,
           row_number() OVER (ORDER BY f1 DESC, threshold) = 1 AS is_best
    FROM scored ORDER BY threshold
    """


@spark_query("d196_dedup_pr_curve", _d196_oracle())
def d196_dedup_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at every observed MinHash-estimate value,
    treating exact shingle Jaccard >= 0.7 as the true-duplicate label
    over d61's candidate pairs — the threshold-tuning table a dedup
    deployment reads before committing a corpus to one cut (and the
    PR-curve face the eval tier lacked). The pair table is
    candidate-bounded (d61's shape: truth computed only THROUGH the
    LSH pair list); the sweep is a <= 33-value broadcast against it
    (estimates are multiples of 1/32); F1 is the exact rational
    2TP/(2TP+FP+FN). Best row flagged with deterministic ties."""
    from .retrieval import d61_lsh_estimate_error

    t = d61_lsh_estimate_error(spark, sf_dir).select(
        "est_jaccard",
        (F.col("true_jaccard") >= _PR_TRUE_CUT).alias("pos"),
    ).localCheckpoint()
    th = t.select(
        F.col("est_jaccard").alias("threshold")
    ).distinct()
    sweep = (
        F.broadcast(th)
        .crossJoin(t)
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(
                    (F.col("est_jaccard") >= F.col("threshold"))
                    & F.col("pos"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("est_jaccard") >= F.col("threshold"))
                    & ~F.col("pos"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("est_jaccard") < F.col("threshold"))
                    & F.col("pos"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
        )
    )
    f1 = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
        F.round(
            2.0
            * F.col("tp")
            / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        )
    )
    scored = sweep.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
        ).alias("precision"),
        F.when(F.col("tp") + F.col("fn") == 0, F.lit(None)).otherwise(
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
                6,
            )
        ).alias("recall"),
        f1.alias("f1"),
    )
    wbest = Window.orderBy(F.col("f1").desc(), "threshold")
    return scored.select(
        "*", (F.row_number().over(wbest) == 1).alias("is_best")
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# d197 — stratified Poisson-bootstrap CI per source.
# ---------------------------------------------------------------------------
_SB_R = 30
_SB_LO = 2  # ceil(0.05 * 30)
_SB_HI = 29  # ceil(0.95 * 30)


def _d197_oracle() -> str:
    u = portable_hash_sql(
        "'boot|' || CAST(g.r AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
    )
    return f"""WITH g AS (
      SELECT unnest(generate_series(0, {_SB_R - 1})) AS r
    ),
    x AS (
      SELECT d.source, g.r, d.n_chars, {u} AS u
      FROM documents d CROSS JOIN g
    ),
    w AS (
      SELECT source, r, n_chars, {_boot_w_case('u')} AS wt FROM x
    ),
    m AS (
      SELECT source, r,
             CAST(sum(wt * n_chars) AS DOUBLE)
               / CAST(sum(wt) AS DOUBLE) AS mean_r
      FROM w GROUP BY source, r
    ),
    ranked AS (
      SELECT source, mean_r,
             row_number() OVER (PARTITION BY source
                 ORDER BY mean_r, r) AS rn
      FROM m
    ),
    stats AS (
      SELECT source,
             round(avg(mean_r), 6) AS boot_mean,
             round(stddev_samp(mean_r), 6) AS boot_se
      FROM m GROUP BY source
    ),
    ci AS (
      SELECT source,
             round(max(CASE WHEN rn = {_SB_LO} THEN mean_r END), 6)
               AS ci_lo,
             round(max(CASE WHEN rn = {_SB_HI} THEN mean_r END), 6)
               AS ci_hi
      FROM ranked GROUP BY source
    ),
    pt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6)
               AS point_mean
      FROM documents GROUP BY source
    )
    SELECT pt.source, n_docs, point_mean, boot_mean, boot_se,
           ci_lo, ci_hi
    FROM pt
    JOIN stats ON pt.source = stats.source
    JOIN ci ON pt.source = ci.source
    ORDER BY pt.source
    """


@spark_query("d197_stratified_bootstrap", _d197_oracle())
def d197_stratified_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source 90% Poisson-bootstrap confidence intervals for mean
    document length (30 deterministic replicates per source): point
    estimate, bootstrap mean and SE, and type-1 order-statistic
    interval endpoints — d180's corpus-level inference, stratified.
    The 30x amplification collapses via map-side partials into a
    sources x 30 mean table; ranks are windows over 30-row source
    partitions. Per-group uncertainty is what a mixture-rebalancing
    decision (d60/d128) actually needs — a source with a wide
    interval shouldn't drive the mix."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    x = docs.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(_SB_R - 1)))
    ).withColumn(
        "u",
        portable_hash(
            F.concat(
                F.lit("boot|"),
                F.col("r").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    m = (
        x.withColumn("wt", F.expr(_boot_w_case("u")))
        .groupBy("source", "r")
        .agg(
            (
                F.sum(F.col("wt") * F.col("n_chars")).cast("double")
                / F.sum("wt").cast("double")
            ).alias("mean_r")
        )
        .localCheckpoint()
    )
    ranked = m.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy("mean_r", "r")
        ),
    )
    stats = m.groupBy("source").agg(
        F.round(F.avg("mean_r"), 6).alias("boot_mean"),
        F.round(F.stddev_samp("mean_r"), 6).alias("boot_se"),
    )
    ci = ranked.groupBy("source").agg(
        F.round(
            F.max(F.when(F.col("rn") == _SB_LO, F.col("mean_r"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == _SB_HI, F.col("mean_r"))), 6
        ).alias("ci_hi"),
    )
    pt = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum("n_chars").cast("double") / F.count("*"), 6
        ).alias("point_mean"),
    )
    return (
        pt.join(stats, "source")
        .join(ci, "source")
        .select(
            "source",
            "n_docs",
            "point_mean",
            "boot_mean",
            "boot_se",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("source")
    )
