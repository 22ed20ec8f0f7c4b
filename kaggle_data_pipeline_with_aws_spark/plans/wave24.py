"""Round-4 fifteenth wave:

- q109 — time-weighted average of an irregular series: each
  observation holds until the next one, so its weight is its holding
  duration (the finance/ops TWA, not the naive row mean).
- d125 — prefix-cache hit-rate curve: for k ∈ {4, 8, 16} leading
  tokens, what share of documents shares its k-prefix with at least
  one other document — the number that sizes an LLM serving
  prefix-cache (and the curve form of d37's prefix dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import epoch_micros
from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q109 — per-user time-weighted average value.
# ---------------------------------------------------------------------------
@spark_query(
    "q109_time_weighted_avg",
    """
    WITH w AS (
      SELECT user_id, value,
             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE)
               AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_holds,
           CAST(round(sum(value * dur_us) / sum(dur_us), 6) AS DOUBLE)
             AS twa_value,
           CAST(round(avg(value), 6) AS DOUBLE) AS naive_mean
    FROM w WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def q109_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular series average done right: each observation's weight
    is how LONG it held (until the next observation for that user) —
    an instrument quoted at 100 for a day and 0 for a second averages
    ~100, not 50. One lead window per user (state bounded per key,
    same partitioning reused by the rollup) and a weighted aggregate;
    the final observation has no holding period and is excluded by
    definition. The naive row mean rides along so the audit SHOWS the
    bias it corrects. Timestamp math via `epoch_micros` (NTZ-safe)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = (
        epoch_micros(F.lead("ts").over(w)) - epoch_micros(F.col("ts"))
    ).cast("double")
    held = ev.select(
        "user_id", "value", dur.alias("dur_us")
    ).filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    return (
        held.groupBy("user_id")
        .agg(
            F.count("*").alias("n_holds"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twa_value"),
            F.round(F.avg("value"), 6).alias("naive_mean"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# d125 — prefix-cache hit-rate curve (k = 4, 8, 16 tokens).
# ---------------------------------------------------------------------------
_PREFIX_KS = (4, 8, 16)


def _d125_oracle() -> str:
    blocks = []
    for k in _PREFIX_KS:
        blocks.append(
            f"""
      SELECT {k} AS k, count(*) AS n_docs,
             CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             CAST(round(sum(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.0 END)
                  / count(*), 6) AS DOUBLE) AS hit_rate
      FROM (
        SELECT count(*) OVER (PARTITION BY p) AS cnt FROM (
          SELECT array_to_string(string_split(text, ' ')[1:{k}], ' ') AS p
          FROM documents
          WHERE len(string_split(text, ' ')) >= {k}
        )
      )"""
        )
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(blocks)
        + ") ORDER BY k"
    )


@spark_query("d125_prefix_cache_rates", _d125_oracle())
def d125_prefix_cache_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """If an inference server caches KV state by k-token prefix, what
    fraction of documents would find a warm entry (share their
    k-prefix with ≥1 other doc)? Reported for k = 4/8/16 — the curve
    falls with k, and where it collapses tells you the useful cache
    key length. Per k: a prefix-hash groupBy count joined back as a
    membership flag (never the prefix STRING shuffled twice — the
    md5 collapses it to 16 bytes), three prefix lengths in one union
    of bucket-sized aggregates over one cached token array scan."""
    docs = load_table(spark, sf_dir, "documents")
    tok = text.tokens("text")
    out = None
    for k in _PREFIX_KS:
        p = F.md5(F.array_join(F.slice(tok, 1, k), " "))
        d = docs.filter(F.size(tok) >= k).select(p.alias("p"))
        cnt = d.groupBy("p").agg(F.count("*").alias("cnt"))
        agg = cnt.agg(
            F.lit(k).alias("k"),
            F.sum("cnt").alias("n_docs"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
            ).alias("n_shared"),
            F.round(
                F.sum(
                    F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
                ).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("hit_rate"),
        ).select("k", "n_docs", "n_shared", "hit_rate")
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("k")
