"""Relational operator suite (SURVEY.md §2.3–§2.8) on the synthetic star schema.

Each query exercises one (or a tight cluster of) reference operators,
rephrased per FIXTURES.md §5: ``orders`` plays the matchwise header
table, ``lineitem`` the deliverywise child table, ``events`` the
incremental stream. Docstrings cite the reference operator IDs and
file:line so parity is checkable.

Scale notes apply to every plan here: filters/projections are expressed
declaratively so Catalyst pushes them into the parquet scan; joins
against dimension-sized tables are broadcast; aggregations rely on
Spark's partial (map-side) + final hash agg; no Python UDFs anywhere in
this module — everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.renumber import contiguous_row_number
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape).
# Reference analog: A1 filtered nested sum (extract_matchwise...py:85-98) +
# A3 group counts — partial+final hash agg over the big child table.
# ---------------------------------------------------------------------------
@spark_query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE)                                  AS sum_qty,
           CAST(sum(l_extendedprice) AS DOUBLE)                             AS sum_base_price,
           CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)          AS sum_disc_price,
           CAST(avg(l_quantity) AS DOUBLE)                                  AS avg_qty,
           CAST(avg(l_discount) AS DOUBLE)                                  AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# P1/P2/P3 — projection, drop, rename (convert_mongo_db_data_to_csv_lambda.py:41-53).
# Catalyst prunes the parquet scan to exactly these columns (check ReadSchema).
# ---------------------------------------------------------------------------
@spark_query(
    "q02_project_rename",
    """
    SELECT o_orderkey AS order_id, o_custkey AS cust_id, o_totalprice AS total_price
    FROM orders
    """,
)
def q02_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "order_id")
        .withColumnRenamed("o_custkey", "cust_id")
        .withColumnRenamed("o_totalprice", "total_price")
    )


# ---------------------------------------------------------------------------
# P4/F16 — suffix predicate (download...py:88-92 keeps '*.json').
# ---------------------------------------------------------------------------
@spark_query(
    "q03_filter_endswith",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%bolt'
    """,
)
def q03_filter_endswith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").endswith("bolt"))
        .select("p_partkey", "p_name", "p_type")
    )


# ---------------------------------------------------------------------------
# P6 — disjunctive equality filter (analysis.ipynb cell 10: team_1==t | team_2==t).
# ---------------------------------------------------------------------------
@spark_query(
    "q04_disjunctive_filter",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment = 'BUILDING' OR c_mktsegment = 'AUTOMOBILE'
    """,
)
def q04_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_mktsegment") == "BUILDING") | (F.col("c_mktsegment") == "AUTOMOBILE")
    ).select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# P7/F1 — case-insensitive equality (cells 12/17: winner.str.lower()=='no result').
# ---------------------------------------------------------------------------
@spark_query(
    "q05_ci_equality",
    """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE lower(o_orderpriority) = '1-urgent'
    """,
)
def q05_ci_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.lower(F.col("o_orderpriority")) == "1-urgent").select(
        "o_orderkey", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# A6/P8 — null-count profile per column (cell 8: df.isnull().sum()).
# One pass over the table; each count is a map-side partial agg.
# ---------------------------------------------------------------------------
@spark_query(
    "q06_null_profile",
    """
    SELECT
      CAST(sum(CASE WHEN o_orderkey    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey_nulls,
      CAST(sum(CASE WHEN o_custkey     IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
      CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
      CAST(sum(CASE WHEN o_totalprice  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
      CAST(sum(CASE WHEN o_orderdate   IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate_nulls
    FROM orders
    """,
)
def q06_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    return o.select(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
            for c in cols
        ]
    )


# ---------------------------------------------------------------------------
# P10/W5 — top-1 by total order (upload...py:127 latest match for version notes).
# orderBy+limit(1): Spark plans this as TakeOrderedAndProject — no global sort.
# ---------------------------------------------------------------------------
@spark_query(
    "q07_top1_latest",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 1
    """,
)
def q07_top1_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# J1 — left equi-join enriching the child table with header attributes
# (convert...py:53: deliveries.merge(matches[...], on='match_id', how='left')).
# Header side is dimension-sized → broadcast hash join, no shuffle of lineitem.
# ---------------------------------------------------------------------------
@spark_query(
    "q08_left_join_enrich",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderdate, o.o_orderpriority
    FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q08_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey, "left").select(
        "l_orderkey", "l_linenumber", "l_quantity", "o_orderdate", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# P5/J2 — left-anti join: the new-file / ledger membership check
# (download...py:84-94 'file not in processed_files'). Here: orders with no
# returned ('R') lineitem.
# ---------------------------------------------------------------------------
@spark_query(
    "q09_anti_join_ledger",
    """
    SELECT o_orderkey, o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    """,
)
def q09_anti_join_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return o.join(
        returned, o.o_orderkey == returned.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus")


# ---------------------------------------------------------------------------
# A3/F3 — per-year group count (cell 10: value_counts of year).
# ---------------------------------------------------------------------------
@spark_query(
    "q10_group_year_count",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def q10_group_year_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# A4 — two-key group count (cell 19: groupby(['toss_decision','toss_winner_won'])).
# ---------------------------------------------------------------------------
@spark_query(
    "q11_group_two_keys",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q11_group_two_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# A5/F12/F14 — derived boolean + dict recode + distribution
# (cell 17: toss_winner==winner; cell 19: .map({True:'Won Match',...})).
# ---------------------------------------------------------------------------
@spark_query(
    "q12_bool_recode_dist",
    """
    SELECT CASE WHEN o_totalprice > 50000 THEN 'High Value' ELSE 'Low Value' END AS bucket,
           count(*) AS n
    FROM orders
    GROUP BY 1
    """,
)
def q12_bool_recode_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("is_high", F.col("o_totalprice") > 50000)
        .withColumn(
            "bucket", F.when(F.col("is_high"), "High Value").otherwise("Low Value")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# A7/P8 — conditional / non-null counts (cell 21: margin notna counts).
# Exercised via the null-producing left join (F6 coalesce default too).
# ---------------------------------------------------------------------------
@spark_query(
    "q13_conditional_count",
    """
    SELECT count(*)                                             AS n_rows,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END)       AS n_returned_alt
    FROM lineitem
    """,
)
def q13_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "n_returned"
        ),
        F.count(F.when(F.col("l_returnflag") == "R", F.lit(1))).alias(
            "n_returned_alt"
        ),
    )


# ---------------------------------------------------------------------------
# A8 — distinct union of two columns (cell 10: set(team_1) | set(team_2)).
# ---------------------------------------------------------------------------
@spark_query(
    "q14_distinct_union",
    """
    SELECT DISTINCT l_returnflag AS flag FROM lineitem
    UNION
    SELECT DISTINCT l_linestatus AS flag FROM lineitem
    """,
)
def q14_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_returnflag").alias("flag"))
        .union(li.select(F.col("l_linestatus").alias("flag")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# A9 — derived ratio over aggregates (cells 12-13: percentage of total).
# Window-free: single-row total broadcast via crossJoin of an agg scalar.
# ---------------------------------------------------------------------------
@spark_query(
    "q15_group_share",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(round(100.0 * count(*) / (SELECT count(*) FROM events), 6) AS DOUBLE) AS pct
    FROM events
    GROUP BY event_type
    """,
)
def q15_group_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    total = ev.agg(F.count("*").alias("__total"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .withColumn(
            "pct", F.round(F.lit(100.0) * F.col("n") / F.col("__total"), 6)
        )
        .drop("__total")
    )


# ---------------------------------------------------------------------------
# W1 — multi-key sort + deterministic top-N (convert...py:43,54 global sorts).
# TakeOrderedAndProject: each partition contributes its local top-N only.
# ---------------------------------------------------------------------------
@spark_query(
    "q16_multikey_sort_topn",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
)
def q16_multikey_sort_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# W2 — contiguous global renumbering (convert...py:43-44 match_number), via the
# scalable two-stage prefix-sum operator, not a single-partition window.
# ---------------------------------------------------------------------------
@spark_query(
    "q17_global_renumber",
    """
    SELECT CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT)
             AS order_seq,
           o_orderkey, o_orderdate
    FROM orders
    """,
)
def q17_global_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return contiguous_row_number(
        o, ["o_orderdate", "o_orderkey"], out_col="order_seq"
    ).select("order_seq", "o_orderkey", "o_orderdate")


# ---------------------------------------------------------------------------
# F13 — composite natural key build (extract_deliverywise...py:76-78).
# ---------------------------------------------------------------------------
@spark_query(
    "q18_composite_key",
    """
    SELECT concat_ws('-', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))
             AS line_key,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def q18_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias(
            "line_key"
        ),
        "l_orderkey",
        "l_linenumber",
    )


# ---------------------------------------------------------------------------
# F6 — coalesce/null-default semantics (.get(k, 0); extract_matchwise...py:71),
# over genuinely null-producing left join: orders with no 'R' lineitem get 0.
# ---------------------------------------------------------------------------
@spark_query(
    "q19_coalesce_default",
    """
    SELECT o.o_orderkey,
           CAST(coalesce(r.returned_qty, 0) AS DOUBLE) AS returned_qty
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey, sum(l_quantity) AS returned_qty
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
    ) r ON o.o_orderkey = r.l_orderkey
    """,
)
def q19_coalesce_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("returned_qty"))
    )
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("returned_qty"), F.lit(0.0)).alias("returned_qty"),
        )
    )


# ---------------------------------------------------------------------------
# F4 — date parse + reformat (upload...py:61 strptime→strftime dd/MM/yyyy).
# ---------------------------------------------------------------------------
@spark_query(
    "q20_date_reformat",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%d/%m/%Y') AS formatted_date
    FROM orders
    """,
)
def q20_date_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "dd/MM/yyyy").alias("formatted_date"),
    )


# ---------------------------------------------------------------------------
# F15 — id-from-name regexp extraction (utils.py:101 filename → match_id).
# ---------------------------------------------------------------------------
@spark_query(
    "q21_regexp_extract_id",
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS name_id
    FROM customer
    """,
)
def q21_regexp_extract_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long").alias("name_id"),
    )


# ---------------------------------------------------------------------------
# F18/JSON — JSON field extraction from a string column (events.props).
# ---------------------------------------------------------------------------
@spark_query(
    "q22_json_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def q22_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# Event-time tumbling-window aggregation (streaming-shaped, batch form;
# SURVEY §2.9 — the batch twin of the Structured Streaming windowed agg).
# ---------------------------------------------------------------------------
@spark_query(
    "q23_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(value) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q23_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Top-K per group — Window.partitionBy + row_number ≤ K (the distributed form
# of the reference's per-team slicing; partitioned window, no global sort).
# ---------------------------------------------------------------------------
@spark_query(
    "q24_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
      FROM customer
    )
    WHERE rnk <= 3
    """,
)
def q24_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
    )


# ---------------------------------------------------------------------------
# Multi-way star join: child → header → dim → dim (the enrich pattern at
# snowflake depth). All dimension sides broadcast; lineitem never shuffles.
# ---------------------------------------------------------------------------
@spark_query(
    "q25_star_join",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q25_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# P9/T6 — bounded ingest (limit-N with a defined order; download...py:115
# processes ≤10 new files per cycle, oldest first).
# ---------------------------------------------------------------------------
@spark_query(
    "q26_bounded_ingest",
    """
    SELECT event_id, ts, event_type
    FROM events
    ORDER BY ts ASC, event_id ASC
    LIMIT 10
    """,
)
def q26_bounded_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(10)
        .select("event_id", "ts", "event_type")
    )


# ---------------------------------------------------------------------------
# X1/W3 — explode with ordinal position (the flatten core, rephrased on
# documents.text: one row per token, position carried like innings_number).
# ---------------------------------------------------------------------------
@spark_query(
    "q27_explode_tokens",
    """
    SELECT doc_id,
           CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS BIGINT)
             AS token_pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def q27_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("__pos", "token"),
    ).select(
        "doc_id", (F.col("__pos") + 1).cast("long").alias("token_pos"), "token"
    )


# ---------------------------------------------------------------------------
# As-of join — point-in-time enrichment (operators/asof.py). Spark has no
# native ASOF; ours is the union + carry-forward window composition with a
# single shuffle on the key. DuckDB's native ASOF LEFT JOIN is the oracle.
# ---------------------------------------------------------------------------
@spark_query(
    "q28_asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, ts, CAST(max(value) AS DOUBLE) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts, r.pvalue AS pvalue_asof
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q28_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")  # dedupe equal timestamps -> deterministic
        .agg(F.max("value").alias("pvalue"))
    )
    return asof_join(
        clicks, purchases, on="user_id", ts_col="ts", payload_cols=["pvalue"]
    )


# ---------------------------------------------------------------------------
# ROLLUP — multi-granularity aggregate (hypertable-rollup shape): per
# (type, hour), per type, and grand total in ONE pass (partial aggs for
# every grouping set share the scan).
# ---------------------------------------------------------------------------
@spark_query(
    "q29_rollup_hourly",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour,
           count(*) AS n, CAST(sum(value) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP(event_type, date_trunc('hour', ts))
    """,
)
def q29_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    return ev.rollup("event_type", "hour").agg(
        F.count("*").alias("n"), F.sum("value").alias("total_value")
    )


# ---------------------------------------------------------------------------
# Running per-key cumulative sum — the W-family beyond row_number: frame-
# bounded window agg, single hash shuffle on the key.
# ---------------------------------------------------------------------------
@spark_query(
    "q30_running_total",
    """
    SELECT event_id, user_id, ts,
           round(CAST(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS running_value
    FROM events
    """,
)
def q30_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# LAG — inter-event gaps per key (sessionization's building block).
# ---------------------------------------------------------------------------
@spark_query(
    "q31_lag_gap",
    """
    SELECT event_id, user_id, ts,
           CAST(date_diff('second',
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             ts) AS BIGINT) AS gap_s
    FROM events
    """,
)
def q31_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id", "user_id", "ts",
        (F.unix_timestamp("ts") - F.unix_timestamp(prev))
        .cast("long")
        .alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# Range (interval-containment) join — no equality key. Bucketized rewrite
# (operators/interval.py) turns the nested-loop shape into a hash equi-join
# on time buckets; the oracle states the plain theta-join semantics.
# ---------------------------------------------------------------------------
@spark_query(
    "q32_range_join",
    """
    WITH i AS (
      SELECT event_id AS signup_id, ts AS start_ts,
             ts + INTERVAL 300 SECOND AS end_ts
      FROM events WHERE event_type = 'signup'
    ),
    p AS (
      SELECT event_id AS error_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT p.error_id, i.signup_id
    FROM p JOIN i ON p.ts BETWEEN i.start_ts AND i.end_ts
    """,
)
def q32_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import interval_point_join

    ev = load_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("end_ts"),
    )
    points = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "ts"
    )
    return interval_point_join(
        points,
        intervals,
        ts_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        bucket_width_s=300,
    ).select("error_id", "signup_id")


# ---------------------------------------------------------------------------
# Resample to a fixed grid + forward fill — the hypertable/gap-fill op.
# Grid = per-key hourly sequence(min..max); reading = last value in the
# hour; gaps carry the previous reading forward (last ignoreNulls window).
# ---------------------------------------------------------------------------
@spark_query(
    "q33_resample_ffill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    readings AS (SELECT user_id, hour, value FROM hourly WHERE rn = 1),
    bounds AS (
      SELECT user_id, min(hour) AS h0, max(hour) AS h1
      FROM readings GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    )
    SELECT g.user_id, g.hour,
           round(last_value(r.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS value_ffill
    FROM grid g LEFT JOIN readings r
      ON g.user_id = r.user_id AND g.hour = r.hour
    """,
)
def q33_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    w_pick = Window.partitionBy("user_id", hour).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    readings = (
        ev.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("user_id", hour.alias("hour"), "value")
    )
    grid = (
        readings.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(readings, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.round(
                F.last("value", ignorenulls=True).over(w_fill), 6
            ).alias("value_ffill"),
        )
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles per group (sort-agg family): Spark
# percentile() == DuckDB quantile_cont.
# ---------------------------------------------------------------------------
@spark_query(
    "q34_group_percentiles",
    """
    SELECT event_type,
           round(CAST(quantile_cont(value, 0.5)  AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(value, 0.9)  AS DOUBLE), 6) AS p90,
           round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def q34_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) window aggregate — F.window with a slide < length
# fans each event into length/slide windows; the oracle states the same
# fan-out as an explicit two-start unnest.
# ---------------------------------------------------------------------------
@spark_query(
    "q35_sliding_window",
    """
    WITH fanned AS (
      SELECT event_type, value,
             unnest([
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
             ]) AS window_start
      FROM events
    )
    SELECT window_start, event_type,
           count(*) AS n, round(CAST(sum(value) AS DOUBLE), 6) AS total_value
    FROM fanned
    GROUP BY 1, 2
    """,
)
def q35_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows every 30 minutes: each event lands in exactly 2
    windows (those starting at its 30-min bucket and the one before).
    The shuffle carries partially-aggregated (window, type) rows — the
    2× fan-out happens map-side, pre-combine."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Z-score outlier detection — two-pass: per-group moments (tiny, broadcast
# back), then flag |z| > 3 in the scan stage. stddev_samp matches DuckDB.
# ---------------------------------------------------------------------------
@spark_query(
    "q36_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 6) AS z
    FROM events e JOIN stats s USING (event_type)
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    """,
)
def q36_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id", "event_type", "value", F.round(z, 6).alias("z")
        )
    )
