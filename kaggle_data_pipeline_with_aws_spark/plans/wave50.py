"""Round-8 wave 50 — governance + planner audits + sketch algebra:

- d185 — k-anonymity / l-diversity audit over quasi-identifier
  tuples: the privacy-engineering report a dataset release runs
  (next to d98's PII screen and d131's forget-purge cascade) —
  how many rows sit in QI groups smaller than k, and how diverse
  the sensitive attribute is inside the worst group.
- d186 — join-cardinality estimator audit: the textbook CBO formula
  |R join S| ~ |R|x|S| / max(V(R,a), V(S,a)) against the EXACT join
  size computed from per-key count tables (never materializing the
  join) — the planner pre-flight next to d148 (skew) and d155
  (similarity-join cost).
- d187 — HLL set algebra across sources: MAX-merged union registers
  + inclusion-exclusion intersection / Jaccard estimates vs exact —
  the d71 (KMV set ops) story on the d174 register substrate.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketch
from ..operators.text import portable_hash60_sql
from ..sources.readers import load_table
from .registry import spark_query
from .wave48 import _est_sql


# ---------------------------------------------------------------------------
# d185 — k-anonymity / l-diversity audit.
# ---------------------------------------------------------------------------
_K_THRESHOLDS = (2, 5, 10)
_QI_BUCKET = 1000.0  # acctbal bucket width in the QI tuple


def _d185_oracle() -> str:
    ks = ", ".join(str(k) for k in _K_THRESHOLDS)
    return f"""WITH q AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {_QI_BUCKET}) AS BIGINT) AS bal_bucket,
             c_acctbal
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket,
             count(*) AS grp_n,
             count(DISTINCT c_acctbal) AS l_div
      FROM q GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(grp_n) AS BIGINT) AS n_rows,
             CAST(min(grp_n) AS BIGINT) AS min_group_size,
             CAST(min(l_div) AS BIGINT) AS min_l_diversity
      FROM g
    ),
    ks AS (SELECT unnest([{ks}]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           n_groups, n_rows, min_group_size, min_l_diversity,
           CAST((SELECT count(*) FROM g WHERE grp_n < ks.k) AS BIGINT)
             AS groups_below_k,
           CAST((SELECT coalesce(sum(grp_n), 0) FROM g
                 WHERE grp_n < ks.k) AS BIGINT) AS rows_below_k,
           round(CAST((SELECT coalesce(sum(grp_n), 0) FROM g
                       WHERE grp_n < ks.k) AS DOUBLE) / n_rows, 6)
             AS share_below_k
    FROM ks, t
    ORDER BY ks.k
    """


@spark_query("d185_k_anonymity", _d185_oracle())
def d185_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the
    quasi-identifier tuple (nation, market segment, account-balance
    1000-bucket), with l-diversity of the exact balance inside QI
    groups: for k in {2, 5, 10}, how many groups and rows fall below
    k — the re-identification risk table a release gate reads. One
    scan collapses rows to QI-group counts (map-side partials); every
    downstream aggregate runs on the group table, and the k-threshold
    fan-out is a 3-row broadcast. At 100 TB the QI-group table is the
    only shuffle and is bounded by the QI domain."""
    q = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _QI_BUCKET)
        .cast("long")
        .alias("bal_bucket"),
        "c_acctbal",
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count("*").alias("grp_n"),
        F.countDistinct("c_acctbal").alias("l_div"),
    )
    ks = spark.createDataFrame([(k,) for k in _K_THRESHOLDS], "k long")
    per_k = (
        F.broadcast(ks)
        .crossJoin(g)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("grp_n") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("groups_below_k"),
            F.sum(
                F.when(F.col("grp_n") < F.col("k"), F.col("grp_n")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rows_below_k"),
        )
    )
    t = g.agg(
        F.count("*").alias("n_groups"),
        F.sum("grp_n").alias("n_rows"),
        F.min("grp_n").alias("min_group_size"),
        F.min("l_div").alias("min_l_diversity"),
    )
    return (
        per_k.crossJoin(F.broadcast(t))
        .select(
            "k",
            "n_groups",
            "n_rows",
            "min_group_size",
            "min_l_diversity",
            "groups_below_k",
            "rows_below_k",
            F.round(
                F.col("rows_below_k").cast("double") / F.col("n_rows"), 6
            ).alias("share_below_k"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# d186 — join-cardinality estimator audit.
# ---------------------------------------------------------------------------
def _d186_oracle() -> str:
    def leg(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
        return f"""
      SELECT '{name}' AS join_name,
             (SELECT CAST(count(*) AS BIGINT) FROM {lt}) AS n_left,
             (SELECT CAST(count(*) AS BIGINT) FROM {rt}) AS n_right,
             (SELECT CAST(count(DISTINCT {lk}) AS BIGINT) FROM {lt})
               AS v_left,
             (SELECT CAST(count(DISTINCT {rk}) AS BIGINT) FROM {rt})
               AS v_right,
             (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT)
              FROM (SELECT {lk} AS k, count(*) AS c FROM {lt} GROUP BY 1) a
              JOIN (SELECT {rk} AS k, count(*) AS c FROM {rt} GROUP BY 1) b
                ON a.k = b.k) AS actual_rows"""

    legs = " UNION ALL ".join(
        [
            leg("customer_orders", "customer", "c_custkey", "orders",
                "o_custkey"),
            leg("orders_lineitem", "orders", "o_orderkey", "lineitem",
                "l_orderkey"),
        ]
    )
    return f"""WITH legs AS ({legs})
    SELECT join_name, n_left, n_right, v_left, v_right, actual_rows,
           round(CAST(n_left AS DOUBLE) * n_right
                 / greatest(v_left, v_right), 6) AS est_rows,
           round(CAST(actual_rows AS DOUBLE)
                 / (CAST(n_left AS DOUBLE) * n_right
                    / greatest(v_left, v_right)), 6) AS actual_over_est
    FROM legs ORDER BY join_name
    """


@spark_query("d186_join_cardinality_estimate", _d186_oracle())
def d186_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The textbook CBO join-size estimate |R|x|S|/max(V(R),V(S))
    audited against the EXACT join cardinality for customer-orders
    and orders-lineitem — where the exact size is sum(c_R(k)*c_S(k))
    over the two per-key COUNT TABLES (one aggregate each, joined on
    the key), so the audit never materializes a single joined row.
    That count-table trick is the scale story: auditing a petabyte
    join costs two grouped scans plus a key-sized equi-join. Ratio
    near 1 validates the uniform-containment assumption; skewed keys
    (d148) push it up."""

    def leg(name: str, left: DataFrame, lk: str, right: DataFrame,
            rk: str) -> DataFrame:
        # the per-key count tables already HOLD n (sum of counts) and
        # V (row count) — derive stats from them instead of separate
        # count/countDistinct scans, and materialize each table once
        # (it feeds both the stats aggregate and the actual-size join;
        # without this the fact side shuffles twice: 200 s -> 41 s at
        # 100x)
        a = left.groupBy(F.col(lk).alias("k")).agg(
            F.count("*").alias("ca")
        ).localCheckpoint()
        b = right.groupBy(F.col(rk).alias("k")).agg(
            F.count("*").alias("cb")
        ).localCheckpoint()
        actual = a.join(b, "k").agg(
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("long")
            .alias("actual_rows")
        )
        stats = a.agg(
            F.sum("ca").alias("n_left"),
            F.count("*").alias("v_left"),
        ).crossJoin(
            b.agg(
                F.sum("cb").alias("n_right"),
                F.count("*").alias("v_right"),
            )
        )
        return stats.crossJoin(actual).select(
            F.lit(name).alias("join_name"),
            "n_left",
            "n_right",
            "v_left",
            "v_right",
            "actual_rows",
        )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    legs = leg("customer_orders", cust, "c_custkey", orders,
               "o_custkey").unionByName(
        leg("orders_lineitem", orders, "o_orderkey", li, "l_orderkey")
    )
    est = (
        F.col("n_left").cast("double")
        * F.col("n_right")
        / F.greatest("v_left", "v_right")
    )
    return legs.select(
        "join_name",
        "n_left",
        "n_right",
        "v_left",
        "v_right",
        "actual_rows",
        F.round(est, 6).alias("est_rows"),
        F.round(F.col("actual_rows").cast("double") / est, 6).alias(
            "actual_over_est"
        ),
    ).orderBy("join_name")


# ---------------------------------------------------------------------------
# d187 — HLL set algebra across sources.
# ---------------------------------------------------------------------------
_SETOP_NSRC = 4
_M = sketch.HLL_M


def _d187_oracle() -> str:
    h60 = portable_hash60_sql("'hll|' || text")
    return f"""WITH srcs AS (
      SELECT source FROM (SELECT DISTINCT source FROM documents)
      ORDER BY source LIMIT {_SETOP_NSRC}
    ),
    docs AS (
      SELECT d.source, d.text FROM documents d
      JOIN srcs ON d.source = srcs.source
    ),
    h AS (SELECT source, {h60} AS hh FROM docs),
    f AS (SELECT source, hh % {_M} AS idx, hh // {_M} AS w FROM h),
    r AS (SELECT source, idx, {sketch.hll_rho_sql('w')} AS rho FROM f),
    reg AS (SELECT source, idx, max(rho) AS mrho FROM r GROUP BY 1, 2),
    grid AS (
      SELECT srcs.source, g.idx FROM srcs
      CROSS JOIN (SELECT unnest(generate_series(0, {_M - 1})) AS idx) g
    ),
    dense AS (
      SELECT grid.source, grid.idx, coalesce(reg.mrho, 0) AS mrho
      FROM grid LEFT JOIN reg
        ON grid.source = reg.source AND grid.idx = reg.idx
    ),
    sagg AS (
      SELECT source,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS reg_sum,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vz
      FROM dense GROUP BY source
    ),
    sest AS (
      SELECT source, {_est_sql('reg_sum', 'vz')} AS est FROM sagg
    ),
    uregs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.idx,
             greatest(a.mrho, b.mrho) AS mrho
      FROM dense a JOIN dense b
        ON a.idx = b.idx AND a.source < b.source
    ),
    uagg AS (
      SELECT src_a, src_b,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS reg_sum,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS vz
      FROM uregs GROUP BY 1, 2
    ),
    uest AS (
      SELECT src_a, src_b, {_est_sql('reg_sum', 'vz')} AS est_union
      FROM uagg
    ),
    dt AS (SELECT DISTINCT source, text FROM docs),
    ex AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS exact_inter
      FROM dt a JOIN dt b ON a.text = b.text AND a.source < b.source
      GROUP BY 1, 2
    ),
    dv AS (SELECT source, count(DISTINCT text) AS dn FROM docs GROUP BY 1)
    SELECT u.src_a, u.src_b,
           ea.est AS est_a, eb.est AS est_b, u.est_union,
           round(ea.est + eb.est - u.est_union, 6) AS est_inter,
           CAST(da.dn AS BIGINT) AS exact_a,
           CAST(db.dn AS BIGINT) AS exact_b,
           CAST(da.dn + db.dn - coalesce(ex.exact_inter, 0) AS BIGINT)
             AS exact_union,
           coalesce(ex.exact_inter, 0) AS exact_inter,
           round((ea.est + eb.est - u.est_union) / u.est_union, 6)
             AS est_jaccard,
           round(CAST(coalesce(ex.exact_inter, 0) AS DOUBLE)
                 / (da.dn + db.dn - coalesce(ex.exact_inter, 0)), 6)
             AS exact_jaccard
    FROM uest u
    JOIN sest ea ON ea.source = u.src_a
    JOIN sest eb ON eb.source = u.src_b
    JOIN dv da ON da.source = u.src_a
    JOIN dv db ON db.source = u.src_b
    LEFT JOIN ex ON ex.src_a = u.src_a AND ex.src_b = u.src_b
    ORDER BY u.src_a, u.src_b
    """


@spark_query("d187_hll_set_ops", _d187_oracle())
def d187_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on the explicit HLL registers for every pair of
    the first 4 sources: union cardinality from MAX-merged registers,
    intersection via inclusion-exclusion, and the resulting Jaccard
    estimate — each next to its exact value. This is why the sketch
    is a TABLE: cross-dataset overlap costs a 64-row-per-group
    register join, not a corpus-x-corpus text join (the exact legs
    here are audit-only). The inclusion-exclusion intersection is
    computed from the ROUNDED per-source estimates so both engines
    combine identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = (
        docs.select("source")
        .distinct()
        .orderBy("source")
        .limit(_SETOP_NSRC)
    )
    d4 = docs.join(F.broadcast(srcs), "source")
    dense = sketch.hll_registers(d4, "source", "text").localCheckpoint()
    sest = sketch.hll_estimate(dense, "source").select(
        "source", F.col("est_distinct").alias("est")
    )
    a = dense.select(
        F.col("source").alias("src_a"), "idx", F.col("mrho").alias("ma")
    )
    b = dense.select(
        F.col("source").alias("src_b"), "idx", F.col("mrho").alias("mb")
    )
    uregs = (
        a.join(b, "idx")
        .filter(F.col("src_a") < F.col("src_b"))
        .select(
            F.concat_ws("|", "src_a", "src_b").alias("pair"),
            "src_a",
            "src_b",
            "idx",
            F.greatest("ma", "mb").alias("mrho"),
        )
    )
    uest = (
        sketch.hll_estimate(uregs.select("pair", "idx", "mrho"), "pair")
        .select("pair", F.col("est_distinct").alias("est_union"))
        .join(
            uregs.select("pair", "src_a", "src_b").distinct(), "pair"
        )
    )
    dt = d4.select("source", "text").distinct()
    ta = dt.select(F.col("source").alias("src_a"), "text")
    tb = dt.select(F.col("source").alias("src_b"), "text")
    ex = (
        ta.join(tb, "text")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    dv = d4.groupBy("source").agg(
        F.countDistinct("text").alias("dn")
    )
    out = (
        uest.join(
            sest.select(F.col("source").alias("src_a"),
                        F.col("est").alias("est_a")),
            "src_a",
        )
        .join(
            sest.select(F.col("source").alias("src_b"),
                        F.col("est").alias("est_b")),
            "src_b",
        )
        .join(
            dv.select(F.col("source").alias("src_a"),
                      F.col("dn").alias("exact_a")),
            "src_a",
        )
        .join(
            dv.select(F.col("source").alias("src_b"),
                      F.col("dn").alias("exact_b")),
            "src_b",
        )
        .join(ex, ["src_a", "src_b"], "left")
        .withColumn(
            "exact_inter", F.coalesce("exact_inter", F.lit(0))
        )
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    )
    return out.select(
        "src_a",
        "src_b",
        "est_a",
        "est_b",
        "est_union",
        F.round(est_inter, 6).alias("est_inter"),
        "exact_a",
        "exact_b",
        exact_union.alias("exact_union"),
        "exact_inter",
        F.round(est_inter / F.col("est_union"), 6).alias("est_jaccard"),
        F.round(
            F.col("exact_inter").cast("double") / exact_union, 6
        ).alias("exact_jaccard"),
    ).orderBy("src_a", "src_b")
