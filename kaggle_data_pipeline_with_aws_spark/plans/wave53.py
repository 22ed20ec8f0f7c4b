"""Round-8 wave 53 — data-quality gate + behavioral statistics:

- d191 — declarative expectation suite (the Great-Expectations-style
  data contract a production pipeline gates releases on): range,
  null-rate, enum-membership, key-uniqueness, and freshness
  expectations across five tables, each row reporting the observed
  violation count against its threshold. One conditional-aggregate
  pass per table (plus one grouped pass per uniqueness key).
- d192 — Markov transition entropy of user event sequences: per
  predecessor event type, the entropy of the next-event distribution
  and its contribution to the chain's entropy rate — how predictable
  user behavior is (q72's transition matrix, information-ized).
- d193 — multi-touch attribution comparison: first-touch, last-touch
  and linear credit per channel for purchase conversions with a
  7-day lookback — the three classic models side by side, exact
  rational credits.

Reference scope: beyond-reference analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import epoch_micros
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d191 — declarative expectation suite.
# ---------------------------------------------------------------------------
_EVENT_ENUM = ("click", "view", "purchase", "signup", "error")
_FRESH_CUT = "2024-01-29 00:00:00"


def _d191_oracle() -> str:
    enum = ", ".join(f"'{e}'" for e in _EVENT_ENUM)
    legs = f"""
      SELECT 'lineitem_quantity_in_range' AS expectation,
             'lineitem' AS tbl,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem
    UNION ALL
      SELECT 'lineitem_price_positive', 'lineitem',
             CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM lineitem
    UNION ALL
      SELECT 'orders_key_unique', 'orders',
             CAST(coalesce(sum(c - 1), 0) AS BIGINT),
             CAST(sum(c) AS BIGINT)
      FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
    UNION ALL
      SELECT 'customer_acctbal_not_null', 'customer',
             CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM customer
    UNION ALL
      SELECT 'events_type_in_enum', 'events',
             CAST(sum(CASE WHEN event_type IN ({enum}) THEN 0 ELSE 1 END)
                  AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM events
    UNION ALL
      SELECT 'events_fresh', 'events',
             CAST(CASE WHEN max(ts) >= TIMESTAMP '{_FRESH_CUT}'
                  THEN 0 ELSE 1 END AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM events
    UNION ALL
      SELECT 'events_value_non_negative', 'events',
             CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM events
    UNION ALL
      SELECT 'documents_key_unique', 'documents',
             CAST(coalesce(sum(c - 1), 0) AS BIGINT),
             CAST(sum(c) AS BIGINT)
      FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY 1)
    UNION ALL
      SELECT 'documents_text_nonempty', 'documents',
             CAST(sum(CASE WHEN text IS NULL OR len(text) < 1
                      THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM documents
    """
    return f"""WITH legs AS ({legs})
    SELECT expectation, tbl, violations, n_rows,
           round(CAST(violations AS DOUBLE) / n_rows, 6)
             AS violation_rate,
           violations = 0 AS passed
    FROM legs ORDER BY expectation
    """


@spark_query("d191_expectation_suite", _d191_oracle())
def d191_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate: nine declarative expectations (value
    ranges, null rates, enum membership, key uniqueness, freshness)
    across five tables, one row each with the observed violation
    count, rate, and verdict. Every per-table expectation group is
    ONE conditional-aggregate scan (uniqueness adds one grouped pass
    over the key); nothing here is more than a map-side-partial
    aggregate, so the whole gate costs a read of each table at any
    scale — which is why contracts run on every load."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def one(df, name, tbl, viol_expr):
        return df.agg(
            F.lit(name).alias("expectation"),
            F.lit(tbl).alias("tbl"),
            F.sum(viol_expr).cast("long").alias("violations"),
            F.count("*").alias("n_rows"),
        )

    def uniq(df, key, name, tbl):
        return (
            df.groupBy(key)
            .agg(F.count("*").alias("c"))
            .agg(
                F.lit(name).alias("expectation"),
                F.lit(tbl).alias("tbl"),
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
                .cast("long")
                .alias("violations"),
                F.sum("c").alias("n_rows"),
            )
        )

    legs = [
        one(
            li,
            "lineitem_quantity_in_range",
            "lineitem",
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0),
        ),
        one(
            li,
            "lineitem_price_positive",
            "lineitem",
            F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0),
        ),
        uniq(orders, "o_orderkey", "orders_key_unique", "orders"),
        one(
            cust,
            "customer_acctbal_not_null",
            "customer",
            F.when(F.col("c_acctbal").isNull(), 1).otherwise(0),
        ),
        one(
            ev,
            "events_type_in_enum",
            "events",
            F.when(F.col("event_type").isin(*_EVENT_ENUM), 0).otherwise(1),
        ),
        ev.agg(
            F.lit("events_fresh").alias("expectation"),
            F.lit("events").alias("tbl"),
            F.when(
                F.max("ts") >= F.lit(_FRESH_CUT).cast("timestamp"), 0
            )
            .otherwise(1)
            .cast("long")
            .alias("violations"),
            F.count("*").alias("n_rows"),
        ),
        one(
            ev,
            "events_value_non_negative",
            "events",
            F.when(F.col("value") < 0, 1).otherwise(0),
        ),
        uniq(docs, "doc_id", "documents_key_unique", "documents"),
        one(
            docs,
            "documents_text_nonempty",
            "documents",
            F.when(
                F.col("text").isNull() | (F.length("text") < 1), 1
            ).otherwise(0),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.select(
        "expectation",
        "tbl",
        "violations",
        "n_rows",
        F.round(
            F.col("violations").cast("double") / F.col("n_rows"), 6
        ).alias("violation_rate"),
        (F.col("violations") == 0).alias("passed"),
    ).orderBy("expectation")


# ---------------------------------------------------------------------------
# d192 — Markov transition entropy of user event sequences.
# ---------------------------------------------------------------------------
@spark_query(
    "d192_transition_entropy",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
      FROM events
    ),
    tc AS (
      SELECT prev, event_type AS nxt, count(*) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    pc AS (SELECT prev, CAST(sum(c) AS BIGINT) AS pn FROM tc GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tc),
    h AS (
      SELECT tc.prev,
             max(pc.pn) AS n_transitions,
             round(log2(CAST(max(pc.pn) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                     / CAST(max(pc.pn) AS DOUBLE), 6) AS h_next_bits
      FROM tc JOIN pc ON tc.prev = pc.prev
      GROUP BY tc.prev
    )
    SELECT h.prev AS prev_type, n_transitions, h_next_bits,
           round(CAST(n_transitions AS DOUBLE) / n.total, 6) AS share,
           round(h_next_bits
                 * round(CAST(n_transitions AS DOUBLE) / n.total, 6), 6)
             AS rate_contrib_bits
    FROM h CROSS JOIN n
    ORDER BY prev_type
    """,
)
def d192_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per predecessor event type: the entropy (bits) of the
    next-event distribution in user sequences, the predecessor's
    share of all transitions, and its contribution to the chain's
    entropy rate (sum of the last column = how unpredictable a user's
    next action is under a first-order model). Transition pairs come
    from ONE lag window over user-partitioned sequences (user-bounded
    partitions — streams fine at any scale); everything after runs on
    the event-type x event-type count table. Same log2(N)-sum(c*log2
    c)/N expression tree in both engines (the d182 discipline)."""
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    tc = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count("*").alias("c"))
    )
    h = tc.groupBy("prev").agg(
        F.sum("c").alias("n_transitions"),
        F.round(
            F.log2(F.sum("c").cast("double"))
            - F.sum(
                F.col("c").cast("double")
                * F.log2(F.col("c").cast("double"))
            )
            / F.sum("c").cast("double"),
            6,
        ).alias("h_next_bits"),
    )
    n = tc.agg(F.sum("c").alias("total"))
    share = F.round(
        F.col("n_transitions").cast("double") / F.col("total"), 6
    )
    return (
        h.crossJoin(F.broadcast(n))
        .select(
            F.col("prev").alias("prev_type"),
            "n_transitions",
            "h_next_bits",
            share.alias("share"),
            F.round(F.col("h_next_bits") * share, 6).alias(
                "rate_contrib_bits"
            ),
        )
        .orderBy("prev_type")
    )


# ---------------------------------------------------------------------------
# d193 — multi-touch attribution comparison.
# ---------------------------------------------------------------------------
_ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000
_TOUCH_TYPES = ("click", "view")


def _d193_oracle() -> str:
    touches = ", ".join(f"'{t}'" for t in _TOUCH_TYPES)
    return f"""WITH conv AS (
      SELECT event_id AS conv_id, user_id, epoch_us(ts) AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel,
             epoch_us(ts) AS tts
      FROM events WHERE event_type IN ({touches})
    ),
    joined AS (
      SELECT c.conv_id, t.touch_id, t.channel, t.tts,
             count(*) OVER (PARTITION BY c.conv_id) AS k,
             row_number() OVER (PARTITION BY c.conv_id
                 ORDER BY t.tts, t.touch_id) AS rn_first,
             row_number() OVER (PARTITION BY c.conv_id
                 ORDER BY t.tts DESC, t.touch_id DESC) AS rn_last
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tts < c.cts
       AND t.tts >= c.cts - {_ATTR_LOOKBACK_US}
    ),
    credit AS (
      SELECT 'first_touch' AS model, channel,
             CASE WHEN rn_first = 1 THEN 1.0 ELSE 0.0 END AS w
      FROM joined
      UNION ALL
      SELECT 'last_touch', channel,
             CASE WHEN rn_last = 1 THEN 1.0 ELSE 0.0 END
      FROM joined
      UNION ALL
      SELECT 'linear', channel, 1.0 / k FROM joined
    )
    SELECT model, channel,
           round(sum(w), 6) AS credit,
           CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_credited_touches
    FROM credit GROUP BY model, channel
    ORDER BY model, channel
    """


@spark_query("d193_attribution_models", _d193_oracle())
def d193_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch, last-touch, and linear attribution credit per
    channel for purchase conversions over a 7-day lookback — the
    three classic models side by side (their disagreement IS the
    deliverable: it bounds how much the channel-budget conclusion
    depends on the model). The conversion-touch join is user-keyed
    with the time window as a residual predicate (never a time-only
    theta join); per-conversion ranks and counts are windows over
    conversion-bounded partitions. Linear credits are exact rationals
    1/k summed and rounded once."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        epoch_micros("ts").alias("cts"),
    )
    touch = ev.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        epoch_micros("ts").alias("tts"),
    )
    joined = conv.join(touch, "user_id").filter(
        (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - _ATTR_LOOKBACK_US)
    )
    wc = Window.partitionBy("conv_id")
    joined = joined.select(
        "conv_id",
        "touch_id",
        "channel",
        F.count("*").over(wc).alias("k"),
        F.row_number()
        .over(wc.orderBy("tts", "touch_id"))
        .alias("rn_first"),
        F.row_number()
        .over(wc.orderBy(F.col("tts").desc(), F.col("touch_id").desc()))
        .alias("rn_last"),
    )
    credit = (
        joined.select(
            F.lit("first_touch").alias("model"),
            "channel",
            F.when(F.col("rn_first") == 1, 1.0).otherwise(0.0).alias("w"),
        )
        .unionByName(
            joined.select(
                F.lit("last_touch").alias("model"),
                "channel",
                F.when(F.col("rn_last") == 1, 1.0)
                .otherwise(0.0)
                .alias("w"),
            )
        )
        .unionByName(
            joined.select(
                F.lit("linear").alias("model"),
                "channel",
                (F.lit(1.0) / F.col("k")).alias("w"),
            )
        )
    )
    return (
        credit.groupBy("model", "channel")
        .agg(
            F.round(F.sum("w"), 6).alias("credit"),
            F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_credited_touches"),
        )
        .orderBy("model", "channel")
    )
