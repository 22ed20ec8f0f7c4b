"""Round-7 wave 40 — dedup-threshold sensitivity at CLUSTER level:

- d156 — cluster threshold stability: d126 sweeps the PAIR count
  across thresholds; this asks the question curation actually acts
  on — when the LSH threshold tightens from 0.5 to 0.6, which 0.5
  clusters survive intact and which shatter? Because the 0.6 pair set
  is a subset of the 0.5 pair set (same banding, tighter similarity
  floor), the 0.6 clustering REFINES the 0.5 clustering: every 0.5
  cluster splits into one or more 0.6 subclusters (nodes in no 0.6
  pair become singletons). A cluster that stays whole is threshold-
  robust (safe to act on); one that shatters was glued by borderline
  pairs — exactly the clusters d150 flags by low min_sim.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text_substrate
from .registry import spark_query


_T_LOOSE = 0.5
_T_TIGHT = 0.6


def _d156_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    cte = _minhash_pairs_cte(_T_LOOSE).replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    # pairs is referenced by both closures and the tight-edge filter:
    # MATERIALIZED per the d40/d149/d150 rule
    cte = cte.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
    return f"""{cte},
    nodes5 AS (
      SELECT doc_id_1 AS node FROM pairs
      UNION SELECT doc_id_2 FROM pairs
    ),
    edges5 AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach5(a, b) AS (
      SELECT node, node FROM nodes5
      UNION
      SELECT r.a, e.b FROM reach5 r JOIN edges5 e ON r.b = e.a
    ),
    comp5 AS (SELECT a AS node, min(b) AS c5 FROM reach5 GROUP BY a),
    tight AS MATERIALIZED (
      SELECT doc_id_1, doc_id_2 FROM pairs
      WHERE est_jaccard >= {_T_TIGHT}
    ),
    nodes6 AS (
      SELECT doc_id_1 AS node FROM tight
      UNION SELECT doc_id_2 FROM tight
    ),
    edges6 AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM tight
      UNION SELECT doc_id_2, doc_id_1 FROM tight
    ),
    reach6(a, b) AS (
      SELECT node, node FROM nodes6
      UNION
      SELECT r.a, e.b FROM reach6 r JOIN edges6 e ON r.b = e.a
    ),
    comp6 AS (SELECT a AS node, min(b) AS c6 FROM reach6 GROUP BY a),
    assigned AS (
      SELECT c5.node, c5.c5,
             coalesce(c6.c6, c5.node) AS c6
      FROM comp5 c5 LEFT JOIN comp6 c6 ON c5.node = c6.node
    )
    SELECT c5 AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT c6) AS BIGINT) AS n_subclusters,
           count(DISTINCT c6) = 1 AS stable,
           CAST(round(1.0 / count(DISTINCT c6), 6) AS DOUBLE)
             AS cohesion_ratio
    FROM assigned
    GROUP BY c5
    ORDER BY 1
    """


@spark_query("d156_cluster_threshold_stability", _d156_oracle())
def d156_cluster_threshold_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per 0.5-threshold near-dup cluster: how many 0.6-threshold
    subclusters it refines into (nodes in no tight pair count as their
    own singleton), whether it is threshold-stable, and the cohesion
    ratio 1/n_subclusters. The loose clustering is served from the
    materialized components artifact; the tight pair set is a FILTER
    of the substrate pair list (same banding, higher similarity floor
    — provably a subset, so the tight fixpoint runs over fewer edges
    than the loose one, itself near-dup-sized). Everything after the
    two node-sized component tables is one join and a cluster-sized
    rollup."""
    from ..operators.components import connected_components

    comp5 = text_substrate.lsh_components(
        spark, sf_dir, threshold=_T_LOOSE
    ).select("node", F.col("component").alias("c5"))
    tight = text_substrate.lsh_pairs(
        spark, sf_dir, threshold=_T_LOOSE
    ).filter(F.col("est_jaccard") >= _T_TIGHT)
    comp6 = connected_components(tight).select(
        "node", F.col("component").alias("c6")
    )
    assigned = comp5.join(comp6, "node", "left").select(
        "node", "c5", F.coalesce("c6", "node").alias("c6")
    )
    return (
        assigned.groupBy(F.col("c5").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("c6").alias("n_subclusters"),
        )
        .select(
            "cluster_id",
            "n_docs",
            "n_subclusters",
            (F.col("n_subclusters") == 1).alias("stable"),
            F.round(F.lit(1.0) / F.col("n_subclusters"), 6).alias(
                "cohesion_ratio"
            ),
        )
        .orderBy("cluster_id")
    )
