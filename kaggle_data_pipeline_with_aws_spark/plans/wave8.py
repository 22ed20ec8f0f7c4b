"""Round-3 final wave: complex-event sequence detection (q75),
cumulative unique users (q76), a join-skew audit (q77), and
perplexity-decile curation buckets (d82).

Same engine conventions as every wave (round-before-rank, BIGINT
counts, broadcast dimension sides, one fact shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q75 — complex event processing: view → click → purchase sequences
# per user, each step within 2 hours of the previous (the
# MATCH_RECOGNIZE-style funnel instance detector, not just stage
# counts like q43).
# ---------------------------------------------------------------------------
@spark_query(
    "q75_event_sequence_detection",
    """
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase')
    SELECT v.user_id, view_id, click_id, purchase_id,
           CAST(epoch_us(purchase_ts) - epoch_us(view_ts) AS BIGINT)
             AS funnel_us
    FROM v
    JOIN c ON v.user_id = c.user_id
          AND click_ts > view_ts
          AND click_ts <= view_ts + INTERVAL 2 HOUR
    JOIN p ON c.user_id = p.user_id
          AND purchase_ts > click_ts
          AND purchase_ts <= click_ts + INTERVAL 2 HOUR
    """,
)
def q75_event_sequence_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern instances via two key-equi interval joins (the same
    watermark-expirable shape as s04 — at scale each join shuffles on
    user_id once and the time bound is the state-expiry residual, so
    the detector runs identically as a stream). Emits every matching
    (view, click, purchase) triple with end-to-end latency."""
    from ..functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")

    def face(et: str, idc: str, tsc: str) -> DataFrame:
        return ev.filter(F.col("event_type") == et).select(
            "user_id",
            F.col("event_id").alias(idc),
            F.col("ts").alias(tsc),
        )

    v = face("view", "view_id", "view_ts")
    c = face("click", "click_id", "click_ts")
    p = face("purchase", "purchase_id", "purchase_ts")
    two_h = F.expr("INTERVAL 2 HOURS")
    vc = v.join(
        c,
        (v["user_id"] == c["user_id"])
        & (c["click_ts"] > v["view_ts"])
        & (c["click_ts"] <= v["view_ts"] + two_h),
    ).select(v["user_id"], "view_id", "view_ts", "click_id", "click_ts")
    vcp = vc.join(
        p,
        (vc["user_id"] == p["user_id"])
        & (p["purchase_ts"] > vc["click_ts"])
        & (p["purchase_ts"] <= vc["click_ts"] + two_h),
    )
    return vcp.select(
        vc["user_id"],
        "view_id",
        "click_id",
        "purchase_id",
        (epoch_micros("purchase_ts") - epoch_micros("view_ts")).alias(
            "funnel_us"
        ),
    )


# ---------------------------------------------------------------------------
# q76 — cumulative unique users by day (the running-distinct metric
# every growth dashboard needs, computed WITHOUT a running distinct).
# ---------------------------------------------------------------------------
@spark_query(
    "q76_cumulative_unique_users",
    """
    WITH firsts AS (
      SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY 1, 2
    ),
    per_day AS (
      SELECT event_type, first_day AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1, 2
    )
    SELECT event_type, day, n_new,
           CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM per_day
    """,
)
def q76_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct = cumulative sum of FIRST occurrences: one
    groupBy finds each (event_type, user)'s first day (user-sized
    shuffle), one aggregates new users per (type, day), and the
    running total windows over the day-sized table only — never a
    distinct-over-growing-prefix, which is quadratic. The audience
    curve per event type is the growth-dashboard staple."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count("*").cast("long").alias("n_new"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.withColumn(
        "cumulative_users", F.sum("n_new").over(w).cast("long")
    )


# ---------------------------------------------------------------------------
# q77 — join-skew audit: the key-frequency profile that decides
# whether a join needs salting (operators/skew.py) before it runs.
# ---------------------------------------------------------------------------
@spark_query(
    "q77_join_skew_audit",
    """
    WITH freq AS (
      SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    stats AS (
      SELECT avg(n) AS mean_n, count(*) AS n_keys, sum(n) AS total
      FROM freq
    )
    SELECT key, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n AS DOUBLE) / mean_n, 6) AS skew_factor,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT f.key, f.n, s.total, s.mean_n,
             row_number() OVER (ORDER BY f.n DESC, f.key ASC) AS rk
      FROM freq f CROSS JOIN stats s
    ) WHERE rk <= 10
    """,
)
def q77_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest join keys with their share and skew factor
    (n / mean): one partial-agg'd key count, 1-row moments broadcast
    back, TakeOrdered top-10. Run before any big keyed join; a
    skew_factor in the hundreds is the signal to salt
    (operators/skew.py) or let AQE split that key."""
    o = load_table(spark, sf_dir, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").cast("long").alias("n")
    )
    stats = freq.agg(
        F.avg("n").alias("mean_n"), F.sum("n").alias("total")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    return (
        freq.crossJoin(F.broadcast(stats))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select(
            "key",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(F.col("n").cast("double") / F.col("mean_n"), 6).alias(
                "skew_factor"
            ),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# d82 — perplexity-decile curation buckets: documents binned by their
# unigram log-probability decile, with per-bucket profiles (the
# quality-stratification step before mixture decisions).
# ---------------------------------------------------------------------------
@spark_query(
    "d82_perplexity_buckets",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    counts AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
    total AS (SELECT count(*) AS total FROM t),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             avg(log2(CAST(cnt AS DOUBLE) / total)) AS lp
      FROM t JOIN counts USING (term), total
      GROUP BY doc_id
    ),
    binned AS (
      SELECT doc_id, n_tokens, lp,
             ntile(10) OVER (ORDER BY round(lp, 6) ASC, doc_id ASC) AS decile
    FROM scored
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(lp), 6) AS avg_logprob,
           round(avg(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens
    FROM binned GROUP BY 1
    """,
)
def d82_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d33's unigram scores → global deciles (over the ROUNDED score
    with doc_id tiebreak, so bucket edges are engine-stable) →
    per-decile profile. Everything upstream is d33's broadcast-model
    plan. Downstream, mixture rebalancing (d60) consumes exactly these
    buckets.

    Scale shape: a bare ``ntile(10) OVER (ORDER BY ...)`` pulls every
    per-doc score through ONE task (and unlike a ranked top-k filter it
    gets no WindowGroupLimit rescue) — fatal at billions of docs. The
    decile is instead derived from ``contiguous_row_number``'s
    quantile-bucket prefix-sum global rank (operators/renumber.py — the
    only full-row shuffle is quantile-balanced) plus SQL ntile's exact
    closed form over (rank, n): the first ``n mod 10`` buckets take
    ``n div 10 + 1`` rows, the rest ``n div 10`` — bit-identical to the
    oracle's ``ntile(10)`` at every n."""
    from ..operators import text as text_ops
    from ..operators.renumber import contiguous_row_number

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(text_ops.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").alias("total"))
    scored = (
        tok.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log2(F.col("cnt").cast("double") / F.col("total"))).alias(
                "lp"
            ),
        )
    )
    ranked = contiguous_row_number(
        scored,
        [F.round(F.col("lp"), 6), F.col("doc_id")],
        out_col="__rank",
    )
    n_docs = scored.agg(F.count("*").alias("__n"))
    base = F.col("__n") - (F.col("__n") % 10)  # 10 * (n div 10)
    big = F.col("__n") % 10  # buckets 1..big hold (n div 10)+1 rows
    cut = big * (base / 10 + 1)  # ranks covered by the big buckets
    binned = (
        ranked.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "decile",
            F.when(
                F.col("__n") < 10, F.col("__rank")  # 1-row buckets
            )
            .when(
                F.col("__rank") <= cut,
                F.ceil(F.col("__rank") / (base / 10 + 1)),
            )
            .otherwise(
                big + F.ceil((F.col("__rank") - cut) / (base / 10))
            )
            .cast("int"),
        )
        .drop("__rank", "__n")
    )
    return binned.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias(
            "avg_tokens"
        ),
    )
