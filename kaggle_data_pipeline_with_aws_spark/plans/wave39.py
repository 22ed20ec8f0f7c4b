"""Round-7 wave 39 — set-similarity *planner* diagnostics:

- d155 — PPJoin cost estimate vs actuals: per candidate threshold, the
  posting-list cost model a similarity-join planner evaluates BEFORE
  running the join — prefix posting mass and the pair-generation upper
  bound Σ C(df_prefix, 2) — next to the measured verified-pair count
  and the implied verify selectivity. The table that decides whether a
  threshold is runnable at all at the next data decade (the pred
  column grows with the square of hot-shingle document frequency; the
  planner reads it instead of discovering the blow-up in production).

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text_substrate
from .registry import spark_query


_COST_TS = (0.7, 0.8, 0.9)


def _d155_oracle() -> str:
    # prefix bound exactly as dedup._int_ceil states it (ceil guarded
    # against the 0.8*35 = 28.000000000000004 binary-double edge)
    def pre_len(t: float) -> str:
        return f"(n - CAST(ceil({t} * n - 0.000000001) AS BIGINT) + 1)"

    grid = ", ".join(f"({t})" for t in _COST_TS)
    pre_case = " ".join(
        f"WHEN g.t = {t} THEN {pre_len(t)}" for t in _COST_TS
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS MATERIALIZED (
      -- referenced five times below (cnt, freq, ranked, inter a/b):
      -- MATERIALIZED per the d40 rule
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle, count(*) AS f FROM sh GROUP BY shingle),
    ranked AS (
      SELECT sh.doc_id, sh.shingle, cnt.n,
             row_number() OVER (PARTITION BY sh.doc_id
                 ORDER BY freq.f ASC, sh.shingle ASC) AS rk
      FROM sh JOIN freq USING (shingle) JOIN cnt USING (doc_id)
    ),
    grid(t) AS (VALUES {grid}),
    pre AS (
      SELECT g.t, r.shingle, count(*) AS df_pre
      FROM ranked r JOIN grid g ON r.rk <= CASE {pre_case} END
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT t,
             sum(df_pre) AS postings,
             -- integer division (each term is exactly even): keeps the
             -- whole sum integral (hugeint), never an order-dependent
             -- double accumulation that could diverge from Spark past
             -- 2^53 at scale (round-7 ADVICE)
             sum(df_pre * (df_pre - 1) // 2) AS pred_cand
      FROM pre GROUP BY t
    ),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6) AS s
      FROM inter
      JOIN cnt ca ON inter.doc_id_1 = ca.doc_id
      JOIN cnt cb ON inter.doc_id_2 = cb.doc_id
      WHERE round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6)
            >= {min(_COST_TS)}
    ),
    actual AS (
      -- count(s), not count(*): a threshold with zero verified pairs
      -- must report 0, and the LEFT JOIN's null row would count as 1
      SELECT g.t, count(sims.s) AS n_pairs
      FROM grid g LEFT JOIN sims ON sims.s >= g.t
      GROUP BY 1
    )
    SELECT CAST(p.t AS DOUBLE) AS threshold,
           CAST(p.postings AS BIGINT) AS prefix_postings,
           CAST(p.pred_cand AS BIGINT) AS pred_candidates,
           CAST(a.n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN p.pred_cand = 0 THEN 0.0
                ELSE round(CAST(a.n_pairs AS DOUBLE)
                      / CAST(p.pred_cand AS DOUBLE), 6) END AS DOUBLE)
             AS verify_rate
    FROM pred p JOIN actual a ON a.t = p.t
    ORDER BY 1
    """


@spark_query("d155_ppjoin_cost_estimate", _d155_oracle())
def d155_ppjoin_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity-join planner table: per threshold, the prefix
    posting mass and the candidate-pair upper bound Σ C(df_prefix, 2)
    the PPJoin prefix filter admits — computable from the shingle
    document-frequency profile ALONE, before any pair is generated —
    next to the measured verified-pair count and the implied verify
    selectivity. Reading this table is how a 100 TB pre-flight decides
    a threshold is affordable; the pred column is exactly the shuffle
    volume of the candidate equi-join.

    One artifact scan serves all thresholds (the threshold grid is a
    per-row explode over the prefix predicate, not a rescan), and the
    actuals come from ONE loosest-threshold PPJoin pass with
    conditional counts (the d126 discipline). Every output is an
    integer count or a single exact division."""
    ranked = text_substrate.ranked_shingles(spark, sf_dir)
    from ..operators.dedup import _int_ceil

    grid = F.array(*[F.lit(float(t)) for t in _COST_TS])
    pre_len = (
        F.col("n_shingles")
        - _int_ceil(F.col("t") * F.col("n_shingles"))
        + 1
    )
    pre = (
        ranked.select(
            "shingle",
            "rk",
            "n_shingles",
            F.explode(grid).alias("t"),
        )
        .filter(F.col("rk") <= pre_len)
        .groupBy("t", "shingle")
        .agg(F.count("*").alias("df_pre"))
    )
    pred = pre.groupBy("t").agg(
        F.sum("df_pre").alias("postings"),
        # integer DIV (each term is exactly even): the sum stays a
        # BIGINT accumulation on both engines — no order-dependent
        # double drift past 2^53 (round-7 ADVICE)
        F.sum(
            F.expr("CAST(df_pre AS BIGINT) * (df_pre - 1) DIV 2")
        ).alias("pred_cand"),
    )
    pairs = text_substrate.jaccard_pairs(
        spark, sf_dir, threshold=min(_COST_TS)
    ).select("jaccard")
    actual = (
        pairs.select(F.explode(grid).alias("t"), "jaccard")
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("t"), 1).otherwise(0)
            ).alias("n_pairs")
        )
    )
    return (
        pred.join(actual, "t", "left")  # zero-pair thresholds keep rows
        .withColumn("n_pairs", F.coalesce(F.col("n_pairs"), F.lit(0)))
        .select(
            F.col("t").alias("threshold"),
            F.col("postings").cast("long").alias("prefix_postings"),
            F.col("pred_cand").alias("pred_candidates"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.when(F.col("pred_cand") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_pairs").cast("double")
                    / F.col("pred_cand").cast("double"),
                    6,
                )
            )
            .alias("verify_rate"),
        )
        .orderBy("threshold")
    )
