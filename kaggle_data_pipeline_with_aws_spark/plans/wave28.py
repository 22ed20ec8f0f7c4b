"""Round-4 nineteenth wave:

- q112 — point-in-time feature join: each fact row (click) joined to
  the SCD2 state interval valid AT ITS TIMESTAMP — the feature-store
  staple that prevents training-serving leakage (never "latest
  state", always "state as of the event").
- d130 — greedy k-center coreset: 8 rounds of farthest-point
  selection over the embedding table — the classic 2-approximation
  for diversity-maximizing subset selection (seed sets, eval panels,
  annotation batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q112 — point-in-time join (feature-store semantics).
# ---------------------------------------------------------------------------
_STATE_TYPES = ("signup", "purchase")


@spark_query(
    "q112_point_in_time_join",
    f"""
    WITH st AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS valid_to
      FROM events WHERE event_type IN {_STATE_TYPES!r}
    )
    SELECT c.event_id, c.user_id, c.ts,
           s.state AS state_at_event,
           s.valid_from AS state_since
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN st s
      ON c.user_id = s.user_id
     AND s.valid_from <= c.ts
     AND (s.valid_to IS NULL OR c.ts < s.valid_to)
    ORDER BY c.event_id
    """,
)
def q112_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store PIT join: clicks pick up the user's state
    (last signup/purchase) AS OF the click timestamp via the SCD2
    interval table q74 builds — a "latest state" join would leak
    future information into training features. The interval table is
    one lead window over the (filtered) state stream; the join
    co-keys on user_id with the validity range as residual predicate
    (exactly s04's stream-stream interval shape — per-user interval
    lists are bounded, so the residual scan is too). Clicks before a
    user's first state row survive with NULL state (left join).
    Because SCD2 intervals TILE each user's timeline, at most one
    interval matches — no row duplication, no argmax needed."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # lead must order exactly like the oracle (ts, event_id tiebreak —
    # the filtered state stream can carry same-ts rows per user):
    st = (
        ev.filter(F.col("event_type").isin(*_STATE_TYPES))
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts")
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").asc(), F.col("event_id").asc()
                )
            )
            .alias("valid_to"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return (
        clicks.join(
            st,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("state").alias("state_at_event"),
            F.col("valid_from").alias("state_since"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# d130 — greedy k-center coreset (farthest-point selection).
# ---------------------------------------------------------------------------
_K_CENTERS = 8

_D130_DIST = (
    "round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> (CAST(p.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))"
    " * (CAST(p.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))), "
    "(acc, x) -> acc + x), 6)"
)


def _d130_oracle() -> str:
    sql = """
    WITH pts AS (SELECT vec_id, embedding FROM embeddings)
    , c1 AS (SELECT vec_id, embedding FROM pts WHERE vec_id = 0)
    , m1 AS (
      SELECT p.vec_id, p.embedding, {d} AS mind
      FROM pts p, c1 c
    )""".format(d=_D130_DIST)
    prev = "m1"
    for k in range(2, _K_CENTERS + 1):
        sql += f"""
    , c{k} AS (
      SELECT vec_id, embedding, mind FROM {prev}
      ORDER BY mind DESC, vec_id ASC LIMIT 1
    ),
    m{k} AS (
      SELECT p.vec_id, p.embedding, least(p.mind, {_D130_DIST}) AS mind
      FROM {prev} p, c{k} c
    )"""
        prev = f"m{k}"
    selects = ["SELECT 1 AS sel_order, vec_id, CAST(0.0 AS DOUBLE) AS"
               " dist_at_selection FROM c1"]
    for k in range(2, _K_CENTERS + 1):
        selects.append(
            f"SELECT {k}, vec_id, CAST(mind AS DOUBLE) FROM c{k}"
        )
    return sql + "\nSELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY sel_order"


@spark_query("d130_kcenter_coreset", _d130_oracle())
def d130_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-maximizing subset selection: greedy farthest-point
    (k-center 2-approximation) — start from vec 0, then 7 rounds of
    "add the point farthest from everything chosen" (squared L2,
    rounded-before-argmax, vec_id tiebreak — fully deterministic).
    Each round is ONE narrow pass (distance to the single new center,
    `least` with the carried min-dist) + a TakeOrdered(1) — the
    per-point state (one double) lives in the DataFrame, checkpointed
    per round so round r never recomputes rounds 1..r-1; the only
    driver data is the chosen center's vector (one row — the same
    bounded-collect contract as d106's 64×64 eigen step). The oracle
    unrolls the identical rounds as chained CTEs."""
    import numpy as np

    pts = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    first = pts.filter(F.col("vec_id") == 0).collect()[0]
    chosen = [(1, 0, 0.0)]
    center_vec = np.array(first["embedding"], dtype=np.float64)

    def dist_to(vec: np.ndarray):
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    arr,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    cur = pts.withColumn("mind", dist_to(center_vec))
    for k in range(2, _K_CENTERS + 1):
        cur = cur.localCheckpoint(eager=True)
        far = (
            cur.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append((k, far["vec_id"], float(far["mind"])))
        center_vec = np.array(far["embedding"], dtype=np.float64)
        cur = cur.withColumn(
            "mind", F.least(F.col("mind"), dist_to(center_vec))
        )
    return spark.createDataFrame(
        chosen, "sel_order int, vec_id long, dist_at_selection double"
    ).orderBy("sel_order")
