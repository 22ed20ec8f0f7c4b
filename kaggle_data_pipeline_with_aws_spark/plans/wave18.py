"""Round-4 ninth wave:

- q104 — lag-gap sessionization: the classic SQL sessionizer
  (new-session flag from lag, session id from a running sum) as the
  relational twin of s02's `session_window`.
- d116 — quality-signal agreement matrix: cross-tabulate three
  independent keep signals (heuristic rules, exact-dup survivorship,
  language-ID confidence) over the corpus — the audit that shows
  whether curation filters agree or fight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q104 — lag-gap sessionization (30-minute inactivity timeout).
# ---------------------------------------------------------------------------
@spark_query(
    "q104_lag_gap_sessions",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800 * 1000000
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           CAST(round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6)
                AS DOUBLE) AS duration_s
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q104_lag_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize by inactivity gap (>30 min starts a new session) —
    the lag-flag-cumsum idiom, the relational twin of s02's
    `session_window` (same timeout; s02 is the streaming-native form
    with mergeable state, this is the form every warehouse migration
    brings along). Both windows partition by user — state bounded per
    key — and the per-session rollup is one more user-keyed aggregate
    on the SAME partitioning, so Catalyst reuses the exchange.
    Timestamp math through `epoch_micros` (NTZ-safe)."""
    from ..functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_micros(F.col("ts")) - epoch_micros(F.lag("ts").over(w))
    new_s = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = ev.select(
        "user_id",
        "ts",
        F.sum(new_s).over(wsum).cast("long").alias("session_no"),
    )
    return (
        s.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                (
                    epoch_micros(F.max("ts")) - epoch_micros(F.min("ts"))
                ).cast("double")
                / 1_000_000.0,
                6,
            ).alias("duration_s"),
        )
        .orderBy("user_id", "session_no")
    )


# ---------------------------------------------------------------------------
# d116 — quality-signal agreement matrix.
# Signals per doc: a = passes the wave-13 heuristic rule battery;
# b = exact-dup survivor (the min doc_id of its text group);
# c = confident language ID (top-1 margin > 1, d102's rule).
# ---------------------------------------------------------------------------
def _d116_oracle() -> str:
    # rule expressions inlined from wave13's _RULES_SQL battery
    structs = []
    for lang, words in sorted(text.LANG_MARKERS.items()):
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        structs.append(
            f"{{'neg_hits': -len(list_filter(toks, x -> list_contains({lst}, x))),"
            f" 'lang': '{lang}'}}"
        )
    arr = "[" + ", ".join(structs) + "]"
    return f"""
    WITH r AS (
      SELECT doc_id,
             len(string_split(text, ' ')) BETWEEN 30 AND 80
             AND list_avg(list_transform(string_split(text, ' '),
                   w -> len(w))) BETWEEN 4.2 AND 4.8
             AND (list_contains(string_split(text, ' '), 'the')
                  OR list_contains(string_split(text, ' '), 'a'))
             AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.5 AS a,
             string_split(text, ' ') AS toks
      FROM documents
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    m AS (
      SELECT r.doc_id, r.a,
             k.doc_id IS NOT NULL AS b,
             list_sort({arr})[2].neg_hits
               - list_sort({arr})[1].neg_hits > 1 AS c
      FROM r LEFT JOIN keepers k ON r.doc_id = k.doc_id
    )
    SELECT a AS rules_pass, b AS dedup_keep, c AS lang_confident,
           count(*) AS n_docs
    FROM m GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """


@spark_query("d116_signal_agreement", _d116_oracle())
def d116_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the curation filters agree? Cross-tab of three independent
    keep signals — the wave-13 rule battery, exact-dedup survivorship
    (min doc_id per text group), and d102's language-confidence
    margin — as an 8-cell (2³) matrix. Each signal is computed in its
    minimal shape (row-local rules and margin; a text-keyed min-agg +
    broadcast-back semi-join for survivorship) and ONE final
    cell-sized aggregate counts the combinations. This is the
    decision table for composing filters: cells where rules pass but
    dedup drops (or vice versa) are exactly the docs a single-signal
    pipeline would mishandle."""
    from .wave13 import _rule_cols

    docs = load_table(spark, sf_dir, "documents")
    r1, r2, r3, r4 = _rule_cols()
    tok = text.tokens("text")
    neg = [
        F.struct(
            (-F.size(F.filter(tok, lambda t: t.isin(*words)))).alias(
                "neg_hits"
            ),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(text.LANG_MARKERS.items())
    ]
    ss = F.sort_array(F.array(*neg))
    margin = F.element_at(ss, 2).getField("neg_hits") - F.element_at(
        ss, 1
    ).getField("neg_hits")
    keepers = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("__keep", F.lit(True))
    )
    m = (
        docs.select(
            "doc_id",
            (r1 & r2 & r3 & r4).alias("rules_pass"),
            (margin > 1).alias("lang_confident"),
        )
        .join(keepers, "doc_id", "left")
        .select(
            "rules_pass",
            F.col("__keep").isNotNull().alias("dedup_keep"),
            "lang_confident",
        )
    )
    return (
        m.groupBy("rules_pass", "dedup_keep", "lang_confident")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("rules_pass", "dedup_keep", "lang_confident")
    )


# ---------------------------------------------------------------------------
# q105 — the SQL API face: one query text, two engines.
# ---------------------------------------------------------------------------
_Q105_SQL = """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           round(avg(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@spark_query("q105_sql_face", _Q105_SQL)
def q105_sql_face(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `spark.sql` surface, demonstrated with ZERO dialect drift:
    the exact same ANSI text runs on Spark (over `register_views`'s
    temp views) and on DuckDB as its own oracle. Everything else in
    the registry builds plans with the DataFrame API and lets
    Catalyst plan them; this face proves the SQL entry point shares
    that machinery — same scan, same partial/final aggregate, same
    pushdowns (spark.sql and the DataFrame build the identical
    logical plan)."""
    from ..sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q105_SQL)
