"""Round-8 wave 48 — sketch lifecycle + corpus-planning statistics:

- d178 — HLL roll-forward: daily distinct-user registers MAX-merged
  into a distinct-to-date curve — the mergeability d174 promises,
  exercised: yesterday's published register table + today's delta is
  ALL a 100 TB deployment recomputes, never the full history.
- d179 — Chao1 vocabulary-richness estimate per source: how many
  word types exist in the population a sample was drawn from — the
  corpus-planning question ("is more data new data?") next to d92's
  empirical vocab growth curve.
- d180 — Poisson-bootstrap confidence interval for mean document
  length: d177's replicate machinery at R=40 with a type-1
  order-statistic percentile interval and the bootstrap SE.
- d181 — sketch accuracy audit: explicit-register HLL vs KMV vs the
  exact distinct count per source — the "which sketch do I deploy"
  table in the d59/d61/d153 estimator-audit tradition.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import sketch
from ..operators.text import HASH_MOD, portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query
from .wave47 import _boot_w_case, _BOOT_T  # noqa: F401 (shared thresholds)


_M = sketch.HLL_M
_NUM = sketch.hll_alpha() * _M * _M * float(1 << 55)


def _est_sql(reg_sum: str, v_zero: str) -> str:
    """The d174 estimator over named register-sum / zero-count
    columns (shared by every HLL oracle in this wave)."""
    raw = f"({_NUM!r} / CAST({reg_sum} AS DOUBLE))"
    return (
        f"round(CASE WHEN {raw} <= {2.5 * _M!r} AND {v_zero} > 0 "
        f"THEN {float(_M)!r} * ln({float(_M)!r} "
        f"/ CAST({v_zero} AS DOUBLE)) "
        f"ELSE {raw} END, 6)"
    )


# ---------------------------------------------------------------------------
# d178 — HLL roll-forward distinct-to-date curve.
# ---------------------------------------------------------------------------
def _d178_oracle() -> str:
    h60 = __import__(
        "kaggle_data_pipeline_with_aws_spark.operators.text",
        fromlist=["portable_hash60_sql"],
    ).portable_hash60_sql("'hll|' || CAST(user_id AS VARCHAR)")
    return f"""WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
      FROM events
    ),
    h AS (SELECT day, {h60} AS hh FROM e),
    f AS (SELECT day, hh % {_M} AS idx, hh // {_M} AS w FROM h),
    r AS (SELECT day, idx, {sketch.hll_rho_sql('w')} AS rho FROM f),
    reg AS (SELECT day, idx, max(rho) AS mrho FROM r GROUP BY day, idx),
    days AS (SELECT DISTINCT day FROM e),
    grid AS (
      SELECT d.day, g.idx FROM days d
      CROSS JOIN (SELECT unnest(generate_series(0, {_M - 1})) AS idx) g
    ),
    dense AS (
      SELECT grid.day, grid.idx, coalesce(reg.mrho, 0) AS mrho
      FROM grid LEFT JOIN reg
        ON grid.day = reg.day AND grid.idx = reg.idx
    ),
    cum AS (
      SELECT day, idx,
             max(mrho) OVER (PARTITION BY idx ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mrho
      FROM dense
    ),
    aggd AS (
      SELECT day,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS reg_sum_daily,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vzd
      FROM dense GROUP BY day
    ),
    aggc AS (
      SELECT day,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS reg_sum_cum,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vzc
      FROM cum GROUP BY day
    ),
    exd AS (
      SELECT day, count(DISTINCT user_id) AS exact_daily
      FROM e GROUP BY day
    ),
    fs AS (SELECT user_id, min(day) AS fd FROM e GROUP BY user_id),
    fc AS (SELECT fd AS day, count(*) AS nf FROM fs GROUP BY fd),
    exc AS (
      SELECT d.day,
             CAST(sum(coalesce(fc.nf, 0)) OVER (ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS exact_cum
      FROM days d LEFT JOIN fc ON d.day = fc.day
    )
    SELECT aggd.day,
           CAST(exact_daily AS BIGINT) AS exact_daily,
           {_est_sql('reg_sum_daily', 'vzd')} AS est_daily,
           exact_cum,
           {_est_sql('reg_sum_cum', 'vzc')} AS est_cum,
           reg_sum_daily, reg_sum_cum
    FROM aggd
    JOIN aggc ON aggd.day = aggc.day
    JOIN exd ON aggd.day = exd.day
    JOIN exc ON aggd.day = exc.day
    ORDER BY aggd.day
    """


@spark_query("d178_hll_rollforward", _d178_oracle())
def d178_hll_rollforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day AND distinct-to-date, both exact and via
    the explicit-register HLL — where the cumulative estimate comes
    from MAX-merging the per-day register tables, never from
    re-scanning history. Per day the sketch is 64 small integers, so
    the merge window runs over a days x 64 table no matter the corpus
    size; the roll-forward is exactly what an incremental 100 TB
    pipeline persists (publish today's registers, MAX with
    yesterday's curve). Both register sums ride along as exact
    integers — the oracle pins sketch state at every day, not just
    the estimates."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    # the register table is days x 64 rows — materialize it once
    # (localCheckpoint) so the daily and cumulative estimators don't
    # each re-run the corpus-sized hash scan (4 recomputations of the
    # md5 path at 100x without this; this is also the artifact a real
    # roll-forward deployment would persist between days)
    regs = sketch.hll_registers(ev, "day", "user_id").localCheckpoint()
    est_d = sketch.hll_estimate(regs, "day").select(
        "day",
        F.col("register_sum").alias("reg_sum_daily"),
        F.col("est_distinct").alias("est_daily"),
    )
    wcum = (
        Window.partitionBy("idx")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    regs_cum = regs.select(
        "day", "idx", F.max("mrho").over(wcum).alias("mrho")
    )
    est_c = sketch.hll_estimate(regs_cum, "day").select(
        "day",
        F.col("register_sum").alias("reg_sum_cum"),
        F.col("est_distinct").alias("est_cum"),
    )
    exd = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_daily")
    )
    fc = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("fd"))
        .groupBy(F.col("fd").alias("day"))
        .agg(F.count("*").alias("nf"))
    )
    wdays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    exc = (
        ev.select("day")
        .distinct()
        .join(fc, "day", "left")
        .select(
            "day",
            F.sum(F.coalesce("nf", F.lit(0)))
            .over(wdays)
            .cast("long")
            .alias("exact_cum"),
        )
    )
    return (
        est_d.join(est_c, "day")
        .join(exd, "day")
        .join(exc, "day")
        .select(
            "day",
            "exact_daily",
            "est_daily",
            "exact_cum",
            "est_cum",
            "reg_sum_daily",
            "reg_sum_cum",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# d179 — Chao1 vocabulary-richness estimate per source.
# ---------------------------------------------------------------------------
@spark_query(
    "d179_chao1_vocab_richness",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT source, w, count(*) AS n FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_doubletons,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(count(*)
                 + CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                        * (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1)
                        AS DOUBLE)
                   / (2.0 * (sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1)),
                 6) AS chao1_est,
           round(1.0 - CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                            AS DOUBLE) / sum(n), 6) AS coverage_est
    FROM tf GROUP BY source ORDER BY source
    """,
)
def d179_chao1_vocab_richness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chao1 estimate of each source's TRUE vocabulary size (observed
    types + n1(n1-1)/(2(n2+1)) from singleton/doubleton counts — the
    bias-corrected form) plus Good-Turing sample coverage 1 - n1/N:
    the "will more data bring new words?" planning table. Same
    two-level shape as d109 (one token explode with map-side partials
    into a (source, word) table, then a source-bounded rollup); every
    ingredient is an exact integer until the two final divisions."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    n1 = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
    return (
        tf.groupBy("source")
        .agg(
            F.count("*").alias("vocab_size"),
            n1.alias("n_singletons"),
            n2.alias("n_doubletons"),
            F.sum("n").alias("total_tokens"),
            F.round(
                F.count("*")
                + (n1 * (n1 - 1)).cast("double") / (2.0 * (n2 + 1)),
                6,
            ).alias("chao1_est"),
            F.round(
                1.0 - n1.cast("double") / F.sum("n"), 6
            ).alias("coverage_est"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# d180 — Poisson-bootstrap confidence interval for mean doc length.
# ---------------------------------------------------------------------------
_CI_R = 40
_CI_LO_RANK = 2  # ceil(0.05 * 40) — type-1 order statistic, 90% interval
_CI_HI_RANK = 38  # ceil(0.95 * 40)


def _d180_oracle() -> str:
    u = portable_hash_sql(
        "'boot|' || CAST(g.r AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
    )
    return f"""WITH g AS (
      SELECT unnest(generate_series(0, {_CI_R - 1})) AS r
    ),
    x AS (
      SELECT g.r, d.n_chars, {u} AS u FROM documents d CROSS JOIN g
    ),
    w AS (SELECT r, n_chars, {_boot_w_case('u')} AS wt FROM x),
    m AS (
      SELECT r,
             CAST(sum(wt * n_chars) AS DOUBLE)
               / CAST(sum(wt) AS DOUBLE) AS mean_r
      FROM w GROUP BY r
    ),
    ranked AS (
      SELECT mean_r,
             row_number() OVER (ORDER BY mean_r, r) AS rn
      FROM m
    ),
    pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents
    )
    SELECT n_docs,
           CAST({_CI_R} AS BIGINT) AS n_replicates,
           round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS point_mean,
           round((SELECT avg(mean_r) FROM m), 6) AS boot_mean,
           round((SELECT stddev_samp(mean_r) FROM m), 6) AS boot_se,
           round((SELECT mean_r FROM ranked WHERE rn = {_CI_LO_RANK}), 6)
             AS ci_lo,
           round((SELECT mean_r FROM ranked WHERE rn = {_CI_HI_RANK}), 6)
             AS ci_hi
    FROM pt
    """


@spark_query("d180_bootstrap_ci", _d180_oracle())
def d180_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% percentile confidence interval (plus bootstrap SE) for the
    corpus mean document length, from 40 deterministic Poisson
    replicates (d177's machinery — hash-thresholded Poisson(1)
    weights, replicate means from exact integer sums). The interval
    endpoints are type-1 order statistics of the 40 means (rank 2 and
    38), picked with a row_number over a 40-row table — the only
    single-partition work at any corpus scale. One corpus scan total:
    the 40x amplification collapses in map-side partials."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    x = docs.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(_CI_R - 1)))
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
    # 40 rows after the partial-agg collapse — materialize once so the
    # order-statistic and moment consumers don't both re-run the 40x
    # amplified corpus scan
    m = (
        x.withColumn("wt", F.expr(_boot_w_case("u")))
        .groupBy("r")
        .agg(
            (
                F.sum(F.col("wt") * F.col("n_chars")).cast("double")
                / F.sum("wt").cast("double")
            ).alias("mean_r")
        )
    ).localCheckpoint()
    ranked = m.withColumn(
        "rn", F.row_number().over(Window.orderBy("mean_r", "r"))
    )
    stats = m.agg(
        F.round(F.avg("mean_r"), 6).alias("boot_mean"),
        F.round(F.stddev_samp("mean_r"), 6).alias("boot_se"),
    )
    ci = ranked.agg(
        F.round(
            F.max(F.when(F.col("rn") == _CI_LO_RANK, F.col("mean_r"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == _CI_HI_RANK, F.col("mean_r"))), 6
        ).alias("ci_hi"),
    )
    pt = docs.agg(
        F.count("*").alias("n_docs"),
        F.lit(_CI_R).cast("long").alias("n_replicates"),
        F.round(
            F.sum("n_chars").cast("double") / F.count("*"), 6
        ).alias("point_mean"),
    )
    return pt.crossJoin(stats).crossJoin(ci)


# ---------------------------------------------------------------------------
# d181 — sketch accuracy audit: HLL vs KMV vs exact.
# ---------------------------------------------------------------------------
_KMV_K = 64


def _d181_oracle() -> str:
    from ..operators.text import portable_hash60_sql

    h60 = portable_hash60_sql("'hll|' || text")
    kh = portable_hash_sql("'kmv|' || text")
    return f"""WITH h AS (
      SELECT source, {h60} AS hh FROM documents
    ),
    f AS (SELECT source, hh % {_M} AS idx, hh // {_M} AS w FROM h),
    r AS (SELECT source, idx, {sketch.hll_rho_sql('w')} AS rho FROM f),
    reg AS (SELECT source, idx, max(rho) AS mrho FROM r GROUP BY source, idx),
    grid AS (
      SELECT s.source, g.idx
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest(generate_series(0, {_M - 1})) AS idx) g
    ),
    dense AS (
      SELECT grid.source, grid.idx, coalesce(reg.mrho, 0) AS mrho
      FROM grid LEFT JOIN reg
        ON grid.source = reg.source AND grid.idx = reg.idx
    ),
    hagg AS (
      SELECT source,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS reg_sum,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vz
      FROM dense GROUP BY source
    ),
    kh AS (SELECT DISTINCT source, {kh} AS h FROM documents),
    kranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM kh
    ),
    kmv AS (
      SELECT source, count(*) AS k, max(h) AS kth
      FROM kranked WHERE rn <= {_KMV_K} GROUP BY source
    ),
    t AS (
      SELECT source, count(DISTINCT text) AS exact_distinct
      FROM documents GROUP BY source
    ),
    est AS (
      SELECT hagg.source,
             CAST(exact_distinct AS BIGINT) AS exact_distinct,
             {_est_sql('reg_sum', 'vz')} AS hll_est,
             round((k - 1) * {HASH_MOD}.0 / kth, 6) AS kmv_est
      FROM hagg
      JOIN kmv ON hagg.source = kmv.source
      JOIN t ON hagg.source = t.source
    )
    SELECT source, exact_distinct, hll_est, kmv_est,
           round(abs(hll_est - exact_distinct) / exact_distinct, 6)
             AS hll_rel_err,
           round(abs(kmv_est - exact_distinct) / exact_distinct, 6)
             AS kmv_rel_err
    FROM est ORDER BY source
    """


@spark_query("d181_sketch_error_audit", _d181_oracle())
def d181_sketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: exact distinct-text count next to the
    explicit-register HLL (d174) and KMV (d28/d48) estimates with
    their relative errors — the "which sketch do I deploy" audit in
    the d59/d61/d153 tradition. HLL costs 64 registers per group and
    MAX-merges; KMV costs k=64 hashes per group and min-merges but
    serves set ops (d71). Both estimators here are deterministic
    portable-hash constructions, so even their ERRORS are
    value-oracled. One documents scan feeds both sketches; all
    downstream work is source x 64 rows."""
    docs = load_table(spark, sf_dir, "documents")
    hll = sketch.hll_estimate(
        sketch.hll_registers(docs, "source", "text"), "source"
    ).select("source", F.col("est_distinct").alias("hll_est"))
    kh = docs.select(
        "source",
        portable_hash(
            F.concat(F.lit("kmv|"), F.col("text"))
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    kmv = (
        kh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("source")
        .agg(F.count("*").alias("k"), F.max("h").alias("kth"))
        .select(
            "source",
            F.round(
                (F.col("k") - 1)
                * F.lit(float(HASH_MOD))
                / F.col("kth"),
                6,
            ).alias("kmv_est"),
        )
    )
    t = docs.groupBy("source").agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    return (
        hll.join(kmv, "source")
        .join(t, "source")
        .select(
            "source",
            "exact_distinct",
            "hll_est",
            "kmv_est",
            F.round(
                F.abs(F.col("hll_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("hll_rel_err"),
            F.round(
                F.abs(F.col("kmv_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("kmv_rel_err"),
        )
        .orderBy("source")
    )
