"""Round-4 twentieth wave:

- s13 — streaming count-min heavy-hitter face: the windowed
  count-min sketch as a single streamable aggregate, probed per
  window for the event-type candidates, with the exact count
  alongside (the count-min overshoot audit).
- d131 — right-to-be-forgotten purge audit: cascade erasure counts
  for a deterministic opt-out user set across customer → orders →
  lineitem and events — the GDPR deletion dry-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# s13 — windowed count-min heavy-hitter face.
# ---------------------------------------------------------------------------
_CM_DEPTH = 3
_CM_WIDTH = 64
_CM_SALT = "scm"


def _s13_oracle() -> str:
    probes = []
    for j in range(_CM_DEPTH):
        h = portable_hash_sql(f"'{_CM_SALT}{j}|' || event_type")
        probes.append(
            f"SELECT win_start, event_type, {j} AS row,"
            f" ({h}) % {_CM_WIDTH} AS bucket FROM cand"
        )
    cm_rows = []
    for j in range(_CM_DEPTH):
        h = portable_hash_sql(f"'{_CM_SALT}{j}|' || event_type")
        cm_rows.append(
            f"SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,"
            f" {j} AS row, ({h}) % {_CM_WIDTH} AS bucket FROM events"
        )
    return f"""
    WITH cm AS (
      SELECT win_start, row, bucket, count(*) AS n
      FROM ({" UNION ALL ".join(cm_rows)}) GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP)
               AS win_start, event_type
      FROM events
    ),
    probes AS ({" UNION ALL ".join(probes)}),
    est AS (
      SELECT p.win_start, p.event_type, min(cm.n) AS est_count
      FROM probes p JOIN cm
        ON p.win_start = cm.win_start AND p.row = cm.row
       AND p.bucket = cm.bucket
      GROUP BY 1, 2
    ),
    tru AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
             event_type, count(*) AS true_n
      FROM events GROUP BY 1, 2
    )
    SELECT e.win_start, e.event_type,
           CAST(e.est_count AS BIGINT) AS est_count,
           CAST(t.true_n AS BIGINT) AS true_n
    FROM est e JOIN tru t
      ON e.win_start = t.win_start AND e.event_type = t.event_type
    ORDER BY 1, 2
    """


@spark_query("s13_windowed_countmin", _s13_oracle())
def s13_windowed_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per tumbling hour through a count-min sketch:
    the sketch build is ONE streamable aggregate — groupBy(window,
    row, bucket) over the depth-exploded portable hashes, shipping at
    most depth×width counters per window no matter the stream rate —
    and the candidate probes + exact counts are the foreachBatch
    post-processing (s06's deployment split). The exact count rides
    along so the output IS the overshoot audit (est ≥ true always;
    the gap is the collision tax of width=64). Deterministic hashes ⇒
    the sketch is bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    win = F.date_trunc("hour", "ts").alias("win_start")
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row"),
                    F.pmod(
                        portable_hash(
                            F.concat(
                                F.lit(f"{_CM_SALT}{j}|"), F.col("event_type")
                            )
                        ),
                        F.lit(_CM_WIDTH),
                    ).alias("bucket"),
                )
                for j in range(_CM_DEPTH)
            ]
        )
    ).alias("rb")
    cm = (
        ev.select(win, rb)
        .select("win_start", "rb.row", "rb.bucket")
        .groupBy("win_start", "row", "bucket")
        .agg(F.count("*").alias("n"))
    )
    cand = ev.select(win, "event_type").distinct()
    probes = cand.select(
        "win_start",
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            portable_hash(
                                F.concat(
                                    F.lit(f"{_CM_SALT}{j}|"),
                                    F.col("event_type"),
                                )
                            ),
                            F.lit(_CM_WIDTH),
                        ).alias("bucket"),
                    )
                    for j in range(_CM_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("win_start", "event_type", "rb.row", "rb.bucket")
    est = (
        probes.join(cm, ["win_start", "row", "bucket"])
        .groupBy("win_start", "event_type")
        .agg(F.min("n").alias("est_count"))
    )
    tru = ev.select(win, "event_type").groupBy(
        "win_start", "event_type"
    ).agg(F.count("*").alias("true_n"))
    return (
        est.join(tru, ["win_start", "event_type"])
        .select("win_start", "event_type", "est_count", "true_n")
        .orderBy("win_start", "event_type")
    )


# ---------------------------------------------------------------------------
# d131 — right-to-be-forgotten cascade purge audit.
# ---------------------------------------------------------------------------
_FORGET_MOD = 97  # opt-out stand-in: every key ≡ 0 (mod 97)


@spark_query(
    "d131_forget_purge_audit",
    f"""
    WITH fc AS (SELECT c_custkey FROM customer
                WHERE c_custkey % {_FORGET_MOD} = 0),
    po AS (SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM fc)),
    stats AS (
      SELECT 'customer' AS tbl, (SELECT count(*) FROM customer) AS n_before,
             (SELECT count(*) FROM fc) AS n_purged
      UNION ALL
      SELECT 'orders', (SELECT count(*) FROM orders),
             (SELECT count(*) FROM po)
      UNION ALL
      SELECT 'lineitem', (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM po))
      UNION ALL
      SELECT 'events', (SELECT count(*) FROM events),
             (SELECT count(*) FROM events
              WHERE user_id % {_FORGET_MOD} = 0)
    )
    SELECT tbl, CAST(n_before AS BIGINT) AS n_before,
           CAST(n_purged AS BIGINT) AS n_purged,
           CAST(n_before - n_purged AS BIGINT) AS n_after
    FROM stats ORDER BY tbl
    """,
)
def d131_forget_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDPR erasure dry-run: given an opt-out key set (every key
    ≡ 0 mod 97 plays the deterministic stand-in), report what a
    cascade delete removes from each table — customers directly,
    their orders via the FK, those orders' lineitems via the second
    FK hop, and the users' events. Each purge count is ONE semi-join
    flag aggregate (opt-out set and purged-order keys broadcast —
    erasure sets are tiny by nature); no table is scanned twice. The
    actual delete is this plan's anti-join complement committed as a
    rewrite — run the audit, sign it off, flip semi to anti."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    fc = cust.filter(F.col("c_custkey") % _FORGET_MOD == 0).select(
        "c_custkey"
    )
    po = orders.join(
        F.broadcast(fc), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey")

    def stat(tbl: str, df: DataFrame, purged: DataFrame) -> DataFrame:
        n_b = df.count()
        n_p = purged.count()
        return spark.createDataFrame(
            [(tbl, n_b, n_p, n_b - n_p)],
            "tbl string, n_before long, n_purged long, n_after long",
        )

    pl = li.join(
        F.broadcast(po), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    pe = ev.filter(F.col("user_id") % _FORGET_MOD == 0)
    out = (
        stat("customer", cust, fc)
        .unionByName(stat("orders", orders, po))
        .unionByName(stat("lineitem", li, pl))
        .unionByName(stat("events", ev, pe))
    )
    return out.orderBy("tbl")
