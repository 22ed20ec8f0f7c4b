"""Round-8 wave 52 — incremental maintenance + dependence + temporal
splits:

- d188 — incremental aggregate maintenance (the lambda-architecture
  merge proof): a base aggregate table (events before the cutover
  day) merged ALGEBRAICALLY with a delta batch — counts add, sums
  add, min/max fold, HLL registers MAX — and compared column-for-
  column against the full recompute. This is the contract that lets
  a 100 TB deployment keep yesterday's aggregate table and touch
  only today's partition.
- d189 — bucketed mutual information between document length and
  token count: the dependence measure d119's correlation matrix
  can't see (MI catches non-linear association). Buckets are fixed-
  width (scan-local, no data-sized ordering anywhere); MI/H come
  from the ≤ 10x10 integer contingency table.
- d190 — purged temporal train/test split with an embargo window
  (the leakage-safe time split financial ML uses): events in
  [T, T+embargo) are discarded so no test observation sits within
  the embargo of any training observation; the audit reports the
  minimum cross-split gap per user in exact microseconds.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import epoch_micros
from ..operators import sketch
from ..operators.text import portable_hash60_sql
from ..sources.readers import load_table
from .registry import spark_query

_M = sketch.HLL_M


# ---------------------------------------------------------------------------
# d188 — incremental aggregate maintenance.
# ---------------------------------------------------------------------------
_IVM_CUT = "2024-01-21 00:00:00"


def _d188_oracle() -> str:
    h60 = portable_hash60_sql("'hll|' || CAST(user_id AS VARCHAR)")

    def agg_cte(name: str, pred: str) -> str:
        return f"""{name}_r AS (
      SELECT event_type, {h60} % {_M} AS idx,
             {sketch.hll_rho_sql(f"(({h60}) // {_M})")} AS rho,
             CAST(round(value * 1000000.0) AS BIGINT) AS v6, ts
      FROM events WHERE {pred}
    ),
    {name}_reg AS (
      SELECT event_type, idx, max(rho) AS mrho
      FROM {name}_r GROUP BY 1, 2
    ),
    {name}_a AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v6) AS BIGINT) AS v6sum,
             min(ts) AS t0, max(ts) AS t1
      FROM {name}_r GROUP BY event_type
    )"""

    return f"""WITH {agg_cte('b', f"ts < TIMESTAMP '{_IVM_CUT}'")},
    {agg_cte('d', f"ts >= TIMESTAMP '{_IVM_CUT}'")},
    {agg_cte('f', 'TRUE')},
    merged AS (
      SELECT coalesce(b.event_type, d.event_type) AS event_type,
             coalesce(b.n, 0) + coalesce(d.n, 0) AS n,
             coalesce(b.v6sum, 0) + coalesce(d.v6sum, 0) AS v6sum,
             least(coalesce(b.t0, d.t0), coalesce(d.t0, b.t0)) AS t0,
             greatest(coalesce(b.t1, d.t1), coalesce(d.t1, b.t1)) AS t1
      FROM b_a b FULL OUTER JOIN d_a d ON b.event_type = d.event_type
    ),
    mreg AS (
      SELECT coalesce(b.event_type, d.event_type) AS event_type,
             coalesce(b.idx, d.idx) AS idx,
             greatest(coalesce(b.mrho, 0), coalesce(d.mrho, 0)) AS mrho
      FROM b_reg b FULL OUTER JOIN d_reg d
        ON b.event_type = d.event_type AND b.idx = d.idx
    ),
    mregsum AS (
      SELECT event_type, CAST(sum(CAST(1 AS BIGINT) << (55 - mrho))
               + ({_M} - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)
               AS reg_sum
      FROM mreg GROUP BY event_type
    ),
    fregsum AS (
      SELECT event_type, CAST(sum(CAST(1 AS BIGINT) << (55 - mrho))
               + ({_M} - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)
               AS reg_sum
      FROM f_reg GROUP BY event_type
    )
    SELECT m.event_type,
           m.n AS n_events, m.v6sum AS value_sum_e6,
           m.t0 AS first_ts, m.t1 AS last_ts,
           mr.reg_sum AS hll_reg_sum,
           (m.n = f.n AND m.v6sum = f.v6sum AND m.t0 = f.t0
            AND m.t1 = f.t1 AND mr.reg_sum = fr.reg_sum)
             AS merge_matches_full
    FROM merged m
    JOIN f_a f ON m.event_type = f.event_type
    JOIN mregsum mr ON mr.event_type = m.event_type
    JOIN fregsum fr ON fr.event_type = m.event_type
    ORDER BY m.event_type
    """


@spark_query("d188_incremental_agg_merge", _d188_oracle())
def d188_incremental_agg_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lambda-architecture merge proof per event type: the base
    aggregate (events before Jan 21) merged algebraically with the
    delta batch — counts and micro-quantized value sums ADD, min/max
    timestamps FOLD, HLL registers MAX — then compared column-for-
    column against the full recompute (merge_matches_full must be
    true everywhere; the oracle pins the merged values themselves
    too). Sparse registers: absent (type, idx) cells contribute 2^55
    to the harmonic denominator, so the register sum is computed
    WITHOUT a dense grid. Every aggregate is mergeable by
    construction — exactly what lets an incremental pipeline touch
    only the new partition at 100 TB."""
    from ..operators.text import portable_hash60

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 1000000.0).cast("long").alias("v6"),
        portable_hash60(
            F.concat(F.lit("hll|"), F.col("user_id").cast("string"))
        ).alias("__h"),
    )
    ev = ev.withColumn("idx", F.col("__h") % _M).withColumn(
        "__w", F.expr(f"__h DIV {_M}")
    ).withColumn("rho", F.expr(sketch.hll_rho_sql("__w")))
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def combined(df: DataFrame) -> DataFrame:
        """ONE corpus pass per side: registers and running stats share
        the (event_type, idx) grain, so a single map-side-partial
        aggregate yields both; the ≤ types x 64-row result is
        localCheckpointed and every downstream table derives from it
        (the naive form scanned+hashed the corpus six times: 104 s ->
        one scan per side at 100x)."""
        return df.groupBy("event_type", "idx").agg(
            F.max("rho").alias("mrho"),
            F.count("*").alias("n"),
            F.sum("v6").alias("v6sum"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        ).localCheckpoint()

    def stats(comb: DataFrame) -> DataFrame:
        return comb.groupBy("event_type").agg(
            F.sum("n").alias("n"),
            F.sum("v6sum").alias("v6sum"),
            F.min("t0").alias("t0"),
            F.max("t1").alias("t1"),
        )

    def regsum(regs: DataFrame) -> DataFrame:
        # sparse register sum: missing cells count 2^55 each
        return regs.groupBy("event_type").agg(
            (
                F.sum(
                    F.expr("SHIFTLEFT(CAST(1 AS BIGINT), 55 - mrho)")
                )
                + (F.lit(_M) - F.count("*"))
                * F.lit(1 << 55).cast("long")
            ).alias("reg_sum")
        )

    bc = combined(ev.filter(F.col("ts") < cut))
    dc = combined(ev.filter(F.col("ts") >= cut))
    fc = combined(ev)
    b_reg = bc.select("event_type", "idx", "mrho")
    d_reg = dc.select("event_type", "idx", "mrho")
    m_reg = (
        b_reg.withColumnRenamed("mrho", "mb")
        .join(
            d_reg.withColumnRenamed("mrho", "md"),
            ["event_type", "idx"],
            "full_outer",
        )
        .select(
            "event_type",
            "idx",
            F.greatest(
                F.coalesce("mb", F.lit(0)), F.coalesce("md", F.lit(0))
            ).alias("mrho"),
        )
    )
    f_reg = fc.select("event_type", "idx", "mrho")
    ba, da, fa = stats(bc), stats(dc), stats(fc)
    merged = (
        ba.select(
            "event_type",
            F.col("n").alias("bn"),
            F.col("v6sum").alias("bv"),
            F.col("t0").alias("bt0"),
            F.col("t1").alias("bt1"),
        )
        .join(
            da.select(
                "event_type",
                F.col("n").alias("dn"),
                F.col("v6sum").alias("dv"),
                F.col("t0").alias("dt0"),
                F.col("t1").alias("dt1"),
            ),
            "event_type",
            "full_outer",
        )
        .select(
            "event_type",
            (
                F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n"),
            (
                F.coalesce("bv", F.lit(0)) + F.coalesce("dv", F.lit(0))
            ).alias("v6sum"),
            F.least(
                F.coalesce("bt0", "dt0"), F.coalesce("dt0", "bt0")
            ).alias("t0"),
            F.greatest(
                F.coalesce("bt1", "dt1"), F.coalesce("dt1", "bt1")
            ).alias("t1"),
        )
    )
    mr = regsum(m_reg).withColumnRenamed("reg_sum", "m_reg_sum")
    fr = regsum(f_reg).withColumnRenamed("reg_sum", "f_reg_sum")
    full = fa.select(
        "event_type",
        F.col("n").alias("fn"),
        F.col("v6sum").alias("fv"),
        F.col("t0").alias("ft0"),
        F.col("t1").alias("ft1"),
    )
    return (
        merged.join(full, "event_type")
        .join(mr, "event_type")
        .join(fr, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("v6sum").alias("value_sum_e6"),
            F.col("t0").alias("first_ts"),
            F.col("t1").alias("last_ts"),
            F.col("m_reg_sum").alias("hll_reg_sum"),
            (
                (F.col("n") == F.col("fn"))
                & (F.col("v6sum") == F.col("fv"))
                & (F.col("t0") == F.col("ft0"))
                & (F.col("t1") == F.col("ft1"))
                & (F.col("m_reg_sum") == F.col("f_reg_sum"))
            ).alias("merge_matches_full"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# d189 — bucketed mutual information (length vs token count).
# ---------------------------------------------------------------------------
_MI_XW = 100  # n_chars bucket width
_MI_YW = 20  # token-count bucket width
_MI_B = 10


@spark_query(
    "d189_length_token_mi",
    f"""
    WITH b AS (
      SELECT least(CAST(n_chars AS BIGINT) // {_MI_XW}, {_MI_B - 1}) AS x,
             least(CAST(len(string_split(text, ' ')) AS BIGINT)
                   // {_MI_YW}, {_MI_B - 1}) AS y
      FROM documents
    ),
    cxy AS (SELECT x, y, count(*) AS c FROM b GROUP BY 1, 2),
    cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cxy GROUP BY x),
    cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cxy GROUP BY y),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cxy),
    mi AS (
      SELECT round(sum((CAST(c AS DOUBLE) / n)
                       * log2(CAST(c AS DOUBLE) * n
                              / (CAST(cx AS DOUBLE) * cy))), 6) AS mi_bits
      FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN n
    ),
    hx AS (
      SELECT round(log2(CAST(max(n) AS DOUBLE))
                   - sum(CAST(cx AS DOUBLE) * log2(CAST(cx AS DOUBLE)))
                     / max(n), 6) AS h_x
      FROM cx CROSS JOIN n
    ),
    hy AS (
      SELECT round(log2(CAST(max(n) AS DOUBLE))
                   - sum(CAST(cy AS DOUBLE) * log2(CAST(cy AS DOUBLE)))
                     / max(n), 6) AS h_y
      FROM cy CROSS JOIN n
    )
    SELECT n.n AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM cxy) AS n_cells,
           mi.mi_bits, hx.h_x, hy.h_y,
           round(mi.mi_bits / least(hx.h_x, hy.h_y), 6) AS nmi
    FROM n, mi, hx, hy
    """,
)
def d189_length_token_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (bits) between fixed-width buckets of
    document char length and whitespace token count, with the
    marginal entropies and the normalized MI — the non-linear
    dependence check next to d97/d119's correlations (for these two
    near-proportional quantities NMI should be high; a low value
    flags inconsistent length accounting). Buckets are scan-local
    constants (no data-sized ordering); all information terms are
    aggregates over the ≤ 10x10 integer contingency table."""
    from ..operators.text import token_count

    b = load_table(spark, sf_dir, "documents").select(
        F.least(
            (F.col("n_chars").cast("long") / _MI_XW).cast("long"),
            F.lit(_MI_B - 1).cast("long"),
        ).alias("x"),
        F.least(
            (token_count("text") / _MI_YW).cast("long"),
            F.lit(_MI_B - 1).cast("long"),
        ).alias("y"),
    )
    cxy = b.groupBy("x", "y").agg(F.count("*").alias("c"))
    cx = cxy.groupBy("x").agg(F.sum("c").alias("cx"))
    cy = cxy.groupBy("y").agg(F.sum("c").alias("cy"))
    n = cxy.agg(F.sum("c").alias("n"), F.count("*").alias("n_cells"))
    joined = cxy.join(cx, "x").join(cy, "y").crossJoin(F.broadcast(n))
    mi = joined.agg(
        F.round(
            F.sum(
                (F.col("c").cast("double") / F.col("n"))
                * F.log2(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            ),
            6,
        ).alias("mi_bits")
    )
    hx = cx.crossJoin(F.broadcast(n)).agg(
        F.round(
            F.log2(F.max("n").cast("double"))
            - F.sum(
                F.col("cx").cast("double")
                * F.log2(F.col("cx").cast("double"))
            )
            / F.max("n"),
            6,
        ).alias("h_x")
    )
    hy = cy.crossJoin(F.broadcast(n)).agg(
        F.round(
            F.log2(F.max("n").cast("double"))
            - F.sum(
                F.col("cy").cast("double")
                * F.log2(F.col("cy").cast("double"))
            )
            / F.max("n"),
            6,
        ).alias("h_y")
    )
    return (
        n.select(F.col("n").alias("n_docs"),
                 F.col("n_cells").cast("long").alias("n_cells"))
        .crossJoin(mi)
        .crossJoin(hx)
        .crossJoin(hy)
        .select(
            "n_docs",
            "n_cells",
            "mi_bits",
            "h_x",
            "h_y",
            F.round(
                F.col("mi_bits") / F.least("h_x", "h_y"), 6
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# d190 — purged temporal split with embargo.
# ---------------------------------------------------------------------------
_SPLIT_T = "2024-01-21 00:00:00"
_EMBARGO = "2 days"
_EMBARGO_US = 2 * 24 * 3600 * 1_000_000


def _d190_oracle() -> str:
    return f"""WITH lab AS (
      SELECT user_id, ts,
             CASE WHEN ts < TIMESTAMP '{_SPLIT_T}' THEN 'train'
                  WHEN ts < TIMESTAMP '{_SPLIT_T}'
                       + INTERVAL '{_EMBARGO}' THEN 'purged'
                  ELSE 'test' END AS split
      FROM events
    ),
    s AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM lab GROUP BY split
    ),
    tr AS (
      SELECT user_id, max(epoch_us(ts)) AS last_train
      FROM lab WHERE split = 'train' GROUP BY user_id
    ),
    te AS (
      SELECT user_id, min(epoch_us(ts)) AS first_test
      FROM lab WHERE split = 'test' GROUP BY user_id
    ),
    x AS (
      SELECT CAST(count(*) AS BIGINT) AS n_overlap_users,
             CAST(min(first_test - last_train) AS BIGINT) AS min_gap_us
      FROM tr JOIN te USING (user_id)
    )
    SELECT split, n_events, n_users,
           x.n_overlap_users, x.min_gap_us,
           x.min_gap_us >= {_EMBARGO_US} AS embargo_holds
    FROM s CROSS JOIN x
    ORDER BY split
    """


@spark_query("d190_purged_time_split", _d190_oracle())
def d190_purged_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal train/test split with a 2-day embargo: events
    in [T, T+2d) are dropped so no test observation sits within the
    embargo window of any training observation (the leakage-safe
    split for temporally-autocorrelated data — d86/d142 hash users
    and clusters; this splits TIME). The audit proves the guarantee:
    per overlapping user, the gap between the last train event and
    first test event, whose minimum must clear the embargo in exact
    microseconds. One scan labels; all audits run on user-bounded
    aggregate tables."""
    lab = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.when(
            F.col("ts") < F.lit(_SPLIT_T).cast("timestamp"), "train"
        )
        .when(
            F.col("ts")
            < F.lit(_SPLIT_T).cast("timestamp")
            + F.expr(f"INTERVAL {_EMBARGO}"),
            "purged",
        )
        .otherwise("test")
        .alias("split"),
    )
    # ONE corpus pass: the (split, user) grain carries everything the
    # audit needs; all downstream tables derive from this bounded,
    # materialized-once aggregate (the naive form scanned the corpus
    # three times, one of them through a countDistinct expand)
    g = lab.groupBy("split", "user_id").agg(
        F.count("*").alias("n"),
        F.min(epoch_micros("ts")).alias("t0"),
        F.max(epoch_micros("ts")).alias("t1"),
    ).localCheckpoint()
    s = g.groupBy("split").agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_users"),
    )
    tr = (
        g.filter(F.col("split") == "train")
        .select("user_id", F.col("t1").alias("last_train"))
    )
    te = (
        g.filter(F.col("split") == "test")
        .select("user_id", F.col("t0").alias("first_test"))
    )
    x = tr.join(te, "user_id").agg(
        F.count("*").alias("n_overlap_users"),
        F.min(F.col("first_test") - F.col("last_train")).alias(
            "min_gap_us"
        ),
    )
    return (
        s.crossJoin(F.broadcast(x))
        .select(
            "split",
            "n_events",
            "n_users",
            "n_overlap_users",
            "min_gap_us",
            (F.col("min_gap_us") >= _EMBARGO_US).alias("embargo_holds"),
        )
        .orderBy("split")
    )
