"""Round-4 sixteenth wave:

- d126 — dedup-threshold sweep: how many near-dup pairs (and how
  many distinct documents) a Jaccard threshold of 0.7/0.8/0.9 would
  implicate — ONE exact PPJoin run at the loosest threshold feeds
  all three policy points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text_substrate
from .registry import spark_query

_SWEEP_TS = (0.7, 0.8, 0.9)


def _d126_oracle() -> str:
    pair_cte = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_id_1, doc_id_2,
             round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6)
               AS jaccard
      FROM inter
      JOIN cnt ca ON inter.doc_id_1 = ca.doc_id
      JOIN cnt cb ON inter.doc_id_2 = cb.doc_id
      WHERE round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6)
            >= 0.7
    )
    """
    blocks = []
    for t in _SWEEP_TS:
        blocks.append(
            f"""
      SELECT {t} AS threshold,
             CAST(count(*) // 2 AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT d) AS BIGINT) AS n_docs_implicated
      FROM (
        SELECT doc_id_1 AS d, jaccard FROM pairs
        UNION ALL SELECT doc_id_2, jaccard FROM pairs
      ) WHERE jaccard >= {t}"""
        )
    return (
        pair_cte
        + "SELECT CAST(threshold AS DOUBLE) AS threshold, n_pairs,"
        " n_docs_implicated FROM ("
        + " UNION ALL ".join(blocks)
        + ") ORDER BY threshold"
    )


@spark_query("d126_dedup_threshold_sweep", _d126_oracle())
def d126_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before committing to a dedup threshold, see the curve: pair
    count and distinct implicated documents at 0.7/0.8/0.9 Jaccard.
    ONE exact PPJoin pass at the LOOSEST threshold (0.7 — exactness
    at 0.7 implies the pair list is a superset of every tighter
    policy) produces a near-dup-sized pair table; the three policy
    points are conditional aggregates over it. The wrong way is three
    full similarity joins; the curve costs one."""
    pairs = text_substrate.jaccard_pairs(spark, sf_dir, threshold=0.7).select(
        "doc_id_1", "doc_id_2", "jaccard"
    )
    sym = pairs.select(
        F.col("doc_id_1").alias("d"), "jaccard"
    ).unionByName(pairs.select(F.col("doc_id_2").alias("d"), "jaccard"))
    # ONE aggregation over the (tiny, near-dup-sized) symmetric pair
    # list: per-threshold conditional counts in a single global agg
    # row, unpivoted to the three policy rows — the previous
    # per-threshold union of aggregates repeated the whole PPJoin
    # subtree three times in the physical plan (no cross-branch reuse
    # below the differing filters; round-11 optimization, guide §2.4).
    # A global agg (not a groupBy) so a threshold with zero qualifying
    # pairs still states its (t, 0, 0) row, as before.
    aggs = []
    for idx, t in enumerate(_SWEEP_TS):
        hit = F.col("jaccard") >= t
        aggs.append(
            (F.count(F.when(hit, F.lit(1))) / 2)
            .cast("long")
            .alias(f"__np{idx}")
        )
        aggs.append(
            F.countDistinct(F.when(hit, F.col("d"))).alias(f"__nd{idx}")
        )
    row = sym.agg(*aggs)
    out_structs = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col(f"__np{idx}").alias("n_pairs"),
            F.col(f"__nd{idx}").alias("n_docs_implicated"),
        )
        for idx, t in enumerate(_SWEEP_TS)
    ]
    return (
        row.select(F.explode(F.array(*out_structs)).alias("r"))
        .select("r.*")
        .orderBy("threshold")
    )
