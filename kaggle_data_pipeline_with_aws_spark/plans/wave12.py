"""Round-4 third wave: the remaining TPC-H-shaped relational queries
the suite had not yet covered, adapted to this star schema (no
partsupp / shipmode / commitdate columns — each adaptation keeps the
original query's join/aggregate SKELETON and swaps the missing column
for an observable stand-in, exactly as round3.py did for Q2):

- q87 — forecast revenue change (Q6): single-scan filtered sum.
- q88 — product profit by nation/year (Q9): two broadcast dims, one
  fact pass, (nation, year) shuffle.
- q89 — late-shipment priority matrix (Q12): conditional counts per
  line status.
- q90 — customer order-count distribution (Q13): outer join + double
  aggregate.
- q91 — promo revenue share (Q14): broadcast part join, one-row out.
- q92 — top supplier(s) by quarter revenue (Q15): agg + broadcast max
  join (ties kept, like the view-based original).
- q93 — part/supplier variety (Q16): distinct pairs + anti-broadcast
  exclusion + count-distinct rollup.
- q94 — small-quantity revenue (Q17): decorrelated per-part average
  broadcast back over the fact scan.
- q95 — qualified shippers (Q20): nested semi-join chain collapsing
  to a supplier short-list.

Shared scale notes: lineitem is the only 100-TB table; every query
scans it exactly once with filters/projection pushed to parquet, and
shuffles it at most once, on the aggregation key. part/supplier/
nation/customer joins are explicit ``F.broadcast``; one-row/
dimension-sized aggregates come back via broadcast joins, never a
second fact shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q87 — forecast revenue change (TPC-H Q6 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q87_forecast_revenue",
    """
    SELECT CAST(round(sum(l_extendedprice * l_discount), 4) AS DOUBLE)
             AS promo_revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q87_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: what revenue disappears if these discounts vanish.
    The fastest shape in the suite — all four predicates and the
    two-column projection push into the parquet scan (PushedFilters
    + ReadSchema show it), the sum partial-aggregates map-side, and
    the final exchange moves one row per task. No join, no wide
    shuffle. Reference analytics equivalent: the notebook's filtered
    aggregate pattern (kaggle_notebook.ipynb)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
            .alias("promo_revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q88 — product profit by nation and year (TPC-H Q9 shape).
# No partsupp table, so supply cost is modeled from the part's list
# price (p_retailprice · quantity · 0.8) — same join skeleton.
# ---------------------------------------------------------------------------
@spark_query(
    "q88_profit_by_nation_year",
    """
    SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
           -- EXACT decimal money arithmetic (the q38 rule): every
           -- factor is a 2-decimal amount or an integer, so the sum
           -- is an integer number of 10^-6 units — order-independent
           -- and engine-identical at any scale (the raw double sum
           -- drifted the displayed cent at 10x).
           CAST(round(sum(
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 - CAST(p.p_retailprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(18,2))
                   * CAST(0.8 AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q88_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit attribution along supplier nation × order
    year. part (name-filtered — the filter prunes ~5/6 of the fact
    rows THROUGH the broadcast hash join before the shuffle) and
    supplier→nation are broadcast; orders is the one non-broadcast
    join, co-keyed on orderkey. The only wide exchange after it is
    the (nation, year) aggregate, which partial-aggregates map-side
    to 25 nations × 7 years. Profit sums in EXACT decimal money
    arithmetic (2-decimal factors × integer quantity × 0.80 → an
    integer count of 10^-6 units), so the value is order-independent
    and engine-identical at any scale — the 10× sweep caught the raw
    double sum drifting the displayed cent — and still a
    partial-aggregable JVM-side sum."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dec = "decimal(18,2)"
    profit = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    ) - F.col("p_retailprice").cast(dec) * F.col("l_quantity").cast(
        dec
    ) * F.lit(0.8).cast(dec)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "n_name", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
        .orderBy("n_name", "o_year")
    )


# ---------------------------------------------------------------------------
# q89 — late-shipment priority matrix (TPC-H Q12 shape).
# No l_shipmode / commitdate: "mode" is the line status and "late" is
# shipping more than 90 days after the order date.
# ---------------------------------------------------------------------------
@spark_query(
    "q89_late_priority_matrix",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY 1 ORDER BY 1
    """,
)
def q89_late_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: did late shipments hit urgent orders? One
    orderkey-co-keyed join (both sides shuffle once on the natural
    key — at 100 TB this is the bucketed-layout join), the lateness
    predicate applied post-join (it references both sides), then a
    2-row conditional aggregate that partial-aggregates map-side.
    The CASE counts are the pivoted boolean-distribution face of A5."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# q90 — customer order-count distribution (TPC-H Q13 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q90_customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY 1
    )
    GROUP BY 1 ORDER BY custdist DESC, c_count DESC
    """,
)
def q90_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13: how many customers placed 0, 1, 2, … qualifying
    orders — the classic outer-join-then-histogram. Orders pre-filter
    and pre-aggregate to one row per customer BEFORE meeting the
    customer table (count per custkey partial-aggregates map-side),
    the left join preserves zero-order customers via coalesce(0), and
    the second aggregate is histogram-sized. Two key-shuffles total;
    the NOT-equal predicate lives in the join's pushed filter, not a
    post-join drop, so null-extension semantics match the oracle."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
    )
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# q91 — promo revenue share (TPC-H Q14 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q91_promo_revenue_share",
    """
    SELECT CAST(round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                    THEN l.l_extendedprice * (1 - l.l_discount)
                    ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS DOUBLE)
             AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q91_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of March-1996 revenue that came from PROMO
    parts. The month predicate prunes at the parquet scan; part is a
    2-column broadcast; both sums ride ONE conditional aggregate over
    one fact pass (never two scans for numerator/denominator). Output
    is a single row — the exchange moves one partial per task."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6).alias(
                "promo_pct"
            )
        )
    )


# ---------------------------------------------------------------------------
# q92 — top supplier(s) by quarterly revenue (TPC-H Q15 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q92_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q92_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose Q1-1996 revenue equals the
    quarter maximum — ties kept, exactly like the original's
    view-based formulation. One fact scan → supplier-sized revenue
    aggregate; the scalar max comes back as a broadcast crossJoin
    (one row), and the supplier dimension is broadcast for names.
    Revenue is rounded BEFORE the max comparison so the equality is
    engine-stable (comparing raw float sums across engines would be
    a coin flip at the boundary)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    sup = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(sup, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q93 — part/supplier variety (TPC-H Q16 shape).
# No partsupp: the observed (partkey, suppkey) pairs in lineitem ARE
# the supply relationships; "complaint" suppliers are the ones with
# negative account balance.
# ---------------------------------------------------------------------------
@spark_query(
    "q93_part_supplier_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q93_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: how many distinct suppliers can serve each
    (brand, type, size) bucket, excluding flagged suppliers. The
    fact collapses to DISTINCT (partkey, suppkey) first — one
    shuffle, partial-distinct map-side — then everything downstream
    is pair-table-sized. The exclusion list (negative-balance
    suppliers, a handful of rows) is a broadcast LEFT ANTI join, the
    filtered part dimension a broadcast equi-join; the count-distinct
    re-shuffles only the surviving pairs on the 3-part group key."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q94 — small-quantity-order revenue (TPC-H Q17 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q94_small_quantity_revenue",
    """
    SELECT CAST(round(sum(l.l_extendedprice) / 7.0, 4) AS DOUBLE)
             AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS qty_fence
      FROM lineitem GROUP BY 1
    ) f ON f.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < f.qty_fence
    """,
)
def q94_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue locked in below-half-average-quantity
    orders for one brand — the canonical correlated-scalar-subquery
    decorrelation. The per-part average is a part-sized aggregate
    (one fact shuffle on partkey, partial-agg'd); it joins BACK to
    the fact as a broadcast (part-dimension cardinality), so the
    probe side never re-shuffles. The brand filter broadcast-prunes
    fact rows before the fence comparison. Compare q39's window-based
    decorrelation: here the subquery is over a DIFFERENT grain, so a
    join — not a window — is the right rewrite."""
    li = load_table(spark, sf_dir, "lineitem")
    fences = (
        li.groupBy(F.col("l_partkey").alias("__pk"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("qty_fence"))
    )
    brand = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    return (
        li.join(brand, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(fences), F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("qty_fence"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q95 — qualified shippers short-list (TPC-H Q20 shape).
# ---------------------------------------------------------------------------
@spark_query(
    "q95_qualified_shippers",
    """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > 60
      )
    ORDER BY s_name
    """,
)
def q95_qualified_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers in three nations that moved real volume
    (>60 units of any one 'small%' part in 1996) — the nested
    IN-subquery chain. Bottom-up: year + name-prefix filters prune
    the fact through a broadcast part join, the (suppkey, partkey)
    volume aggregate is one fact shuffle, the HAVING keeps a
    supplier-sized key set, and the final step is a broadcast
    LEFT SEMI join into the (already nation-filtered, broadcast)
    supplier dimension — IN-subquery as semi-join, no distinct
    needed, no row ever duplicated."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    small = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    movers = (
        li.join(small, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 60)
        .select("l_suppkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        sup.join(
            F.broadcast(movers),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
