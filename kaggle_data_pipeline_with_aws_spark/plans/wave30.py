"""Round-4 twenty-first wave — graph traversal and retrieval eval:

- d132 — k-hop BFS reach from the centroid seeds over the mutual-kNN
  graph: the level-synchronous frontier traversal, oracle-checked
  against a DuckDB recursive CTE (the first WITH RECURSIVE twin in
  the registry — recursion itself is now value-checked, not just the
  closed forms).
- d133 — reciprocal-rank fusion of exact-cosine and hyperplane-LSH
  rankings: the hybrid-retrieval merge every RAG/data-curation stack
  runs between its lexical and vector legs.
- d134 — NDCG@10 of the LSH ranking against the exact-cosine ground
  truth: the graded ranking-quality audit that complements d59's
  binary recall.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.components import bfs_min_hops
from ..sources.readers import load_table
from .registry import spark_query
from .retrieval import _knn_graph_cte, _mutual_knn_edges


# ---------------------------------------------------------------------------
# d132 — k-hop BFS from the centroid seeds over the mutual-kNN graph.
# ---------------------------------------------------------------------------
_BFS_MAX_HOPS = 4


def _d132_oracle() -> str:
    # Same IVF-derived mutual-kNN edge set as d62; the traversal is a
    # recursive CTE (UNION recursion dedups (node, hops) pairs, the
    # hop cap bounds it), min() collapses to the first-reached level.
    graph = _knn_graph_cte().replace("WITH cents", "WITH RECURSIVE cents", 1)
    # a rename/reformat of _knn_graph_cte would make the replace a
    # silent no-op and only fail later at oracle-run time — fail HERE
    assert graph != _knn_graph_cte(), "WITH-prefix rewrite missed"
    return f"""{graph},
    sym AS (
      SELECT node_a AS u, node_b AS v FROM edges
      UNION ALL
      SELECT node_b AS u, node_a AS v FROM edges
    ),
    walk AS (
      SELECT CAST(vec_id AS BIGINT) AS node, 0 AS h
      FROM embeddings WHERE vec_id < 16
      UNION
      SELECT s.v AS node, w.h + 1 AS h
      FROM walk w JOIN sym s ON s.u = w.node
      WHERE w.h < {_BFS_MAX_HOPS}
    )
    SELECT node, CAST(min(h) AS BIGINT) AS hops
    FROM walk GROUP BY node ORDER BY node
    """


@spark_query("d132_bfs_hops", _d132_oracle())
def d132_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from the 16 centroid seed vectors to every
    vector reachable within 4 hops of the mutual-kNN graph — the
    "semantic neighborhood radius" audit (how much of the corpus sits
    within k hops of the cluster cores). The Spark plan is
    level-synchronous BFS (operators/components.bfs_min_hops): each
    round joins only the NEW frontier against the adjacency and
    anti-joins the visited set, so a node is expanded exactly once —
    the frontier-sized work profile that survives billion-edge graphs,
    against the oracle's recursive-CTE restatement of the same
    traversal."""
    embs = load_table(spark, sf_dir, "embeddings")
    edges = _mutual_knn_edges(spark, sf_dir).select("node_a", "node_b")
    seeds = embs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("long").alias("node")
    )
    return bfs_min_hops(seeds, edges, max_hops=_BFS_MAX_HOPS).orderBy("node")


# ---------------------------------------------------------------------------
# d133 — reciprocal-rank fusion of the exact and LSH rankings.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_DEPTH = 20
_RRF_TOPK = 10


def _d133_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL, _hyperplane_sig_sql

    cos = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""
    WITH exact_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    exact_rk AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM exact_scored
    ),
    ex AS (SELECT * FROM exact_rk WHERE rk <= {_RRF_DEPTH}),
    sigs AS (
      SELECT vec_id, embedding, {_hyperplane_sig_sql()} AS sig FROM embeddings
    ),
    lsh_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM sigs a, sigs b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
        AND bit_count(xor(CAST(a.sig AS BIGINT), CAST(b.sig AS BIGINT))) <= 4
    ),
    lsh_rk AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM lsh_scored
    ),
    ls AS (SELECT * FROM lsh_rk WHERE rk <= {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(ex.query_id, ls.query_id) AS query_id,
             COALESCE(ex.neighbor_id, ls.neighbor_id) AS neighbor_id,
             round(COALESCE(1.0 / ({_RRF_K} + ex.rk), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + ls.rk), 0.0), 6) AS rrf_score
      FROM ex FULL JOIN ls
        ON ex.query_id = ls.query_id AND ex.neighbor_id = ls.neighbor_id
    )
    SELECT query_id, neighbor_id, rrf_score,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_score DESC, neighbor_id ASC) AS fused_rank
      FROM fused)
    WHERE fused_rank <= {_RRF_TOPK}
    """


@spark_query("d133_rrf_fusion", _d133_oracle())
def d133_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (score = Σ 1/(60+rank)) of two retrieval
    legs over the same query set: the exact brute-force cosine top-20
    and the hyperplane-LSH top-20. RRF is THE standard hybrid-search
    merge precisely because it needs only ranks — no score calibration
    across legs — so the fusion itself is a full-outer equi-join on
    (query, neighbor) plus one per-query top-k: nothing in the merge
    step grows with corpus size, only with k. Both legs broadcast the
    query side; the two addends are combined in fixed literal order so
    the fused score is bit-reproducible across engines."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    ex = similarity.brute_force_topk(embs, queries, k=_RRF_DEPTH).select(
        "query_id", "neighbor_id", F.col("rank").alias("rk_exact")
    )
    ls = similarity.hyperplane_lsh_topk(embs, queries, k=_RRF_DEPTH).select(
        "query_id", "neighbor_id", F.col("rank").alias("rk_lsh")
    )
    fused = ex.join(ls, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rk_exact")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rk_lsh")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_TOPK)
        .select("query_id", "neighbor_id", "rrf_score", "fused_rank")
    )


# ---------------------------------------------------------------------------
# d134 — NDCG@10 of the LSH ranking vs the exact-cosine ground truth.
# ---------------------------------------------------------------------------
_NDCG_K = 10
# ideal DCG for graded relevance rel(j) = K+1-j at positions 1..K; a
# shared Python-computed literal so both engines divide by the exact
# same double.
_IDCG = sum((_NDCG_K + 1 - j) / math.log2(j + 1) for j in range(1, _NDCG_K + 1))


def _d134_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL, _hyperplane_sig_sql

    cos = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""
    WITH exact_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    gt AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
        FROM exact_scored) WHERE rk <= {_NDCG_K}
    ),
    sigs AS (
      SELECT vec_id, embedding, {_hyperplane_sig_sql()} AS sig FROM embeddings
    ),
    lsh_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM sigs a, sigs b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
        AND bit_count(xor(CAST(a.sig AS BIGINT), CAST(b.sig AS BIGINT))) <= 4
    ),
    sys AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
        FROM lsh_scored) WHERE rk <= {_NDCG_K}
    )
    SELECT s.query_id,
           CAST(sum(CASE WHEN gt.rk IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(COALESCE({_NDCG_K} + 1 - gt.rk, 0)
                     / log2(s.rk + 1)) / {_IDCG!r}, 6) AS ndcg
    FROM sys s LEFT JOIN gt
      ON s.query_id = gt.query_id AND s.neighbor_id = gt.neighbor_id
    GROUP BY s.query_id
    ORDER BY s.query_id
    """


@spark_query("d134_ndcg_eval", _d134_oracle())
def d134_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the hyperplane-LSH ranking against exact-cosine
    ground truth, graded rel = 11 − exact_rank — the position-weighted
    quality audit that tells you not just HOW MANY true neighbors the
    approximate index returns (d59's recall) but whether it puts the
    best ones FIRST. Both rankings reuse the registered legs'
    machinery; the eval itself is a (query, neighbor)-keyed left join
    of two k-row-per-query tables plus one per-query aggregate, so its
    cost scales with queries × k, never with the corpus. IDCG is a
    shared Python-computed constant, identical literal on both
    engines."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    gt = similarity.brute_force_topk(embs, queries, k=_NDCG_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("gt_rk")
    )
    sys_rk = similarity.hyperplane_lsh_topk(embs, queries, k=_NDCG_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("sys_rk")
    )
    joined = sys_rk.join(gt, ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("gt_rk").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum(
                    F.coalesce(
                        F.lit(_NDCG_K + 1) - F.col("gt_rk"), F.lit(0)
                    )
                    / F.log2(F.col("sys_rk") + 1)
                )
                / F.lit(_IDCG),
                6,
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )
