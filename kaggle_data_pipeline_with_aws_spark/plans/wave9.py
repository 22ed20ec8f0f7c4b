"""Round-3 wave 9 (round-4 proof queue, final): month-over-month
growth rates (q78), order-level co-purchase pairs (q79), a dedup
survivorship report (d83), consistent-hash shard layout (d84),
translation-pair length-ratio filtering (d85), and event-rate anomaly
detection (s09).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q78 — month-over-month revenue growth per nation (the BI growth-rate
# staple: lag over an aggregated series).
# ---------------------------------------------------------------------------
@spark_query(
    "q78_mom_revenue_growth",
    """
    WITH monthly AS (
      SELECT n_name, date_trunc('month', o_orderdate) AS month,
             round(sum(o_totalprice), 6) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, CAST(month AS DATE) AS month, revenue,
           round(revenue / lag(revenue) OVER (PARTITION BY n_name
               ORDER BY month ASC) - 1, 6) AS mom_growth
    FROM monthly
    """,
)
def q78_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth rates over the AGGREGATED series: the fact shuffles once
    into (nation, month) cells; the lag window runs on the cell-sized
    table (nations × months rows), so the growth calculation is free
    at any fact scale. First month per nation is NULL growth, exactly
    like the SQL."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.round(F.sum("o_totalprice"), 6).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("m").asc())
    return monthly.select(
        "n_name",
        F.col("m").cast("date").alias("month"),
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias(
            "mom_growth"
        ),
    )


# ---------------------------------------------------------------------------
# q79 — co-purchased part pairs (order-level market basket, top-25 by
# support). Unlike d70 (user × event-type, tiny vocabulary), the item
# domain here is the part catalog — the pair join must stay bounded by
# the per-order line count.
# ---------------------------------------------------------------------------
@spark_query(
    "q79_copurchase_pairs",
    """
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_1, b.l_partkey AS part_2,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_1, part_2, n_orders, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY n_orders DESC,
                                   part_1 ASC, part_2 ASC) AS rk
      FROM pairs
    ) WHERE rk <= 25
    """,
)
def q79_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market basket at catalog scale: the pair join is keyed on
    l_orderkey, so the fan-out per order is lines² with lines ≤ 7 —
    bounded, skew-free by construction (the key's cardinality equals
    the order count, not the catalog). The pair aggregate shuffles
    once; the top-25 is TakeOrdered over integer counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct()
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_1")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_2")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_1") < F.col("part_2"))
        .groupBy("part_1", "part_2")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    w = Window.orderBy(
        F.col("n_orders").desc(), F.col("part_1").asc(), F.col("part_2").asc()
    )
    return pairs.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 25
    )


# ---------------------------------------------------------------------------
# d83 — dedup survivorship report: what exact dedup keeps and drops,
# per source (the before/after accounting a curation run publishes).
# ---------------------------------------------------------------------------
@spark_query(
    "d83_dedup_survivorship",
    """
    WITH keep AS (
      SELECT min(doc_id) AS keep_id FROM documents GROUP BY text
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id IN (SELECT keep_id FROM keep)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN doc_id IN (SELECT keep_id FROM keep)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           round(sum(CASE WHEN doc_id IN (SELECT keep_id FROM keep)
                          THEN 0.0 ELSE 1.0 END) / count(*), 6)
             AS drop_rate
    FROM documents GROUP BY source
    """,
)
def d83_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup (d01/d21's rule: min doc_id per text
    hash) re-expressed as a survivorship audit: tag each doc with a
    semi-join membership flag against the keeper set, then one
    conditional aggregate per source. The keeper set join is keyed on
    doc_id; the text never shuffles twice."""
    d = load_table(spark, sf_dir, "documents")
    keep = d.groupBy("text").agg(F.min("doc_id").alias("keep_id"))
    flagged = d.join(
        keep.select(F.col("keep_id").alias("doc_id"), F.lit(1).alias("kept")),
        "doc_id",
        "left",
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("kept") == 1, 0).otherwise(1))
        .cast("long")
        .alias("n_dropped"),
        F.round(
            F.sum(F.when(F.col("kept") == 1, 0.0).otherwise(1.0))
            / F.count("*"),
            6,
        ).alias("drop_rate"),
    )


# ---------------------------------------------------------------------------
# d84 — consistent-hash shard assignment audit: the data-layout step
# of a training-shard writer (operators/packing.py writes them; this
# audits balance BEFORE writing).
# ---------------------------------------------------------------------------
_D84_SHARDS = 64


@spark_query(
    "d84_shard_assignment",
    f"""
    WITH assigned AS (
      SELECT {portable_hash_sql("'shard-' || CAST(doc_id AS VARCHAR)")}
               % {_D84_SHARDS} AS shard,
             n_chars
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY 1
    """,
)
def d84_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sharding + balance audit in one pass: the
    assignment is a row-local expression (a repartition-by-this-column
    away from the physical layout), the audit a shard-sized aggregate.
    Hash sharding is what keeps training shards balanced without a
    global sort — this query is the check that it actually did."""
    d = load_table(spark, sf_dir, "documents")
    shard = F.pmod(
        portable_hash(
            F.concat(F.lit("shard-"), F.col("doc_id").cast("string"))
        ),
        F.lit(_D84_SHARDS),
    ).cast("long")
    return (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# d85 — translation-pair length-ratio filter: parallel-corpus hygiene
# over the d53 candidates (token-length ratio outside [0.5, 2] means
# misaligned pairs, the standard bitext filter).
# ---------------------------------------------------------------------------
def _d85_oracle() -> str:
    from .corpus_stats import d53_translation_candidates  # noqa: F401
    from .registry import ORACLE_SQL

    inner = ORACLE_SQL["d53_translation_candidates"].strip()
    return f"""
    WITH cand AS ({inner}),
    lens AS (
      SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tok
      FROM documents
    )
    SELECT id_1, id_2, lang_1, lang_2, cos_sim,
           round(CAST(la.n_tok AS DOUBLE) / lb.n_tok, 6) AS len_ratio
    FROM cand
    JOIN lens la ON cand.id_1 = la.doc_id
    JOIN lens lb ON cand.id_2 = lb.doc_id
    WHERE CAST(la.n_tok AS DOUBLE) / lb.n_tok BETWEEN 0.5 AND 2.0
    """


@spark_query("d85_translation_length_filter", _d85_oracle())
def d85_translation_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext hygiene: candidate pairs survive only if their token
    counts are within 2× of each other (real translations track in
    length; misalignments don't). Lengths are a narrow map over
    documents broadcast onto the (already small) candidate pair list —
    the corpus-side work is d53's, this adds none."""
    from ..operators import text as text_ops
    from .corpus_stats import d53_translation_candidates

    cand = d53_translation_candidates(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id",
        F.size(
            F.filter(text_ops.tokens("text"), lambda t: t != "")
        ).alias("n_tok"),
    )
    la = lens.select(
        F.col("doc_id").alias("id_1"), F.col("n_tok").alias("tok_1")
    )
    lb = lens.select(
        F.col("doc_id").alias("id_2"), F.col("n_tok").alias("tok_2")
    )
    ratio = F.col("tok_1").cast("double") / F.col("tok_2")
    return (
        cand.join(F.broadcast(la), "id_1")
        .join(F.broadcast(lb), "id_2")
        .filter((ratio >= 0.5) & (ratio <= 2.0))
        .select(
            "id_1",
            "id_2",
            "lang_1",
            "lang_2",
            "cos_sim",
            F.round(ratio, 6).alias("len_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# s09 — event-rate anomaly detection: hours whose event count deviates
# from the trailing-24h mean by more than 3 trailing standard
# deviations (the streaming-monitoring alarm, computed on the
# aggregated series).
# ---------------------------------------------------------------------------
@spark_query(
    "s09_event_rate_anomaly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT hour, n_events,
             avg(n_events) OVER w AS mu,
             stddev_samp(n_events) OVER w AS sigma
      FROM hourly
      WINDOW w AS (ORDER BY hour ASC ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, n_events, round(mu, 6) AS trailing_mean,
           round((n_events - mu) / sigma, 6) AS zscore
    FROM scored
    WHERE sigma > 0 AND abs(n_events - mu) > 3 * sigma
    """,
)
def s09_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate alarming on the HOUR-sized series: the event stream
    aggregates once into hourly counts (the same tumbling-window agg
    s01 runs incrementally), then the trailing mean/std window and the
    3σ rule run over a table with one row per hour — driver-cheap at
    any event volume, and the exact batch face of a foreachBatch
    alerting stage."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.orderBy(F.col("hour").asc()).rowsBetween(-24, -1)
    scored = hourly.select(
        "hour",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sigma"),
    )
    return (
        scored.filter(
            (F.col("sigma") > 0)
            & (F.abs(F.col("n_events") - F.col("mu")) > 3 * F.col("sigma"))
        )
        .select(
            "hour",
            "n_events",
            F.round("mu", 6).alias("trailing_mean"),
            F.round((F.col("n_events") - F.col("mu")) / F.col("sigma"), 6).alias(
                "zscore"
            ),
        )
    )
