"""Round-9 wave 61 — graph-ANN serving: NSW greedy beam search over
the published mutual-kNN substrate (round-8 verdict #5 — the
graph-traversal serving pattern next to IVF (d15), IVF-PQ (d137), and
LSH (d13) in the ANN tier):

- d204 — the search itself: 10 query vectors, 16 centroid entry
  points, beam 8, 3 bounded expansion rounds, top-5 results.
- d205 — the recall/cost audit: NSW top-5 vs the exact brute-force
  top-5 per query, plus how many nodes the search scored (brute force
  scores the whole corpus; NSW scores entry + frontier nodes only) —
  the d59/d134-style quality row for the graph serving path.

The oracle unrolls the beam rounds: per round a candidate CTE
(frontier join against the symmetric edge list, NOT-EXISTS against
the visited set, self-match excluded), a scoring CTE (the repo's
standard sequential-fold cosine, round 6), the visited union, and a
windowed top-B reselect — identical semantics to
``operators/nsw.py`` stated in plain SQL over the same
``_knn_graph_cte`` edge derivation the whole graph tier shares.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import nsw, similarity
from ..sources.readers import load_table
from .registry import spark_query
from .retrieval import _knn_graph_cte, _mutual_knn_edges

_N_ENTRY = 16  # the IVF centroid nodes double as NSW entry points
_Q_LO, _Q_HI = 100, 110
_BEAM = 8
_ROUNDS = 3
_TOPK = 5


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def _entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N_ENTRY)
        .select(F.col("vec_id").alias("node"))
    )


def _cos_ab() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    return (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )


def _nsw_ctes() -> str:
    """qs, sym, vis0 … vis{_ROUNDS}: the unrolled beam search (appends
    to ``_knn_graph_cte``'s chain, which ends at ``edges``)."""
    cos = _cos_ab()
    parts = [
        f""",
    qs AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id >= {_Q_LO} AND vec_id < {_Q_HI}
    ),
    medges AS MATERIALIZED (
      -- local materialized copy: sym references the edge list twice,
      -- and without this the whole kNN-build chain inlines (and runs)
      -- once per reference — the wave-42 ≥2-references rule
      SELECT node_a, node_b FROM edges
    ),
    sym AS MATERIALIZED (
      SELECT node_a AS u, node_b AS v FROM medges
      UNION ALL
      SELECT node_b AS u, node_a AS v FROM medges
    ),
    vis0 AS MATERIALIZED (
      SELECT b.query_id, a.vec_id AS node, {cos} AS score
      FROM embeddings a, qs b
      WHERE a.vec_id < {_N_ENTRY} AND a.vec_id <> b.query_id
    )"""
    ]
    for r in range(1, _ROUNDS + 1):
        parts.append(f""",
    beam{r - 1} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT query_id, node, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, node) AS rk
        FROM vis{r - 1}) WHERE rk <= {_BEAM}
    ),
    cand{r} AS (
      SELECT DISTINCT w.query_id, s.v AS node
      FROM beam{r - 1} w JOIN sym s ON s.u = w.node
      WHERE s.v <> w.query_id
        AND NOT EXISTS (SELECT 1 FROM vis{r - 1} x
                        WHERE x.query_id = w.query_id AND x.node = s.v)
    ),
    sc{r} AS (
      SELECT c.query_id, c.node, {cos} AS score
      FROM cand{r} c
      JOIN embeddings a ON a.vec_id = c.node
      JOIN qs b ON b.query_id = c.query_id
    ),
    vis{r} AS MATERIALIZED (
      SELECT * FROM vis{r - 1} UNION ALL SELECT * FROM sc{r}
    )""")
    return "".join(parts)


def _d204_oracle() -> str:
    return f"""{_knn_graph_cte()}{_nsw_ctes()}
    SELECT query_id, CAST(rk AS BIGINT) AS rank, node AS neighbor_id,
           score
    FROM (
      SELECT query_id, node, score,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, node) AS rk
      FROM vis{_ROUNDS})
    WHERE rk <= {_TOPK}
    ORDER BY query_id, rank
    """


@spark_query("d204_nsw_beam_search", _d204_oracle())
def d204_nsw_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW greedy beam search over the published mutual-kNN graph:
    from the 16 centroid entry points, 3 set-synchronous beam-8
    expansions (frontier join → visited anti-join → score → top-B
    reselect over everything seen — the ef-search queue), then the
    top-5 visited per query. Per round the joined volume is queries ×
    beam × degree — query-set bounded regardless of corpus size; the
    edge list is the amortized substrate artifact the whole graph
    tier shares."""
    return nsw.nsw_beam_search(
        _queries(spark, sf_dir),
        _mutual_knn_edges(spark, sf_dir).select("node_a", "node_b"),
        load_table(spark, sf_dir, "embeddings"),
        _entries(spark, sf_dir),
        beam=_BEAM,
        rounds=_ROUNDS,
        topk=_TOPK,
    ).orderBy("query_id", "rank")


def _d205_oracle() -> str:
    cos = _cos_ab()
    return f"""{_knn_graph_cte()}{_nsw_ctes()},
    nsw_top AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, node) AS rk
        FROM vis{_ROUNDS}) WHERE rk <= {_TOPK}
    ),
    exact_top AS (
      SELECT query_id, node FROM (
        SELECT b.query_id, a.vec_id AS node,
               row_number() OVER (PARTITION BY b.query_id
                   ORDER BY {cos} DESC, a.vec_id) AS rk
        FROM embeddings a, qs b
        WHERE a.vec_id <> b.query_id) WHERE rk <= {_TOPK}
    ),
    scored_n AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_scored
      FROM vis{_ROUNDS} GROUP BY 1
    ),
    hits AS (
      SELECT e.query_id, CAST(count(n.node) AS BIGINT) AS n_hits
      FROM exact_top e
      LEFT JOIN nsw_top n
        ON n.query_id = e.query_id AND n.node = e.node
      GROUP BY 1
    )
    SELECT h.query_id, s.n_scored, h.n_hits,
           CAST(h.n_hits AS DOUBLE) / {_TOPK} AS recall
    FROM hits h JOIN scored_n s ON s.query_id = h.query_id
    ORDER BY h.query_id
    """


@spark_query("d205_nsw_recall_audit", _d205_oracle())
def d205_nsw_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost audit of the graph serving path: per query, how
    many of the exact brute-force top-5 the NSW search recovered, and
    how many nodes it scored to get there (the exact leg scores the
    whole corpus; the search scores entry + frontier nodes only —
    query-bounded ground truth, the d59/d153 audit discipline).

    The audit's finding on this corpus: the search EXHAUSTS its
    reachable component (n_scored saturates — wider beams/more rounds
    score the same nodes) well short of full recall, because mutual
    top-5 pruning fragments the graph. That reachability ceiling is
    precisely why production NSW/HNSW builders enforce connectivity
    (degree floors, long-range links, layer hierarchies) rather than
    serving a raw mutual-kNN graph — the number this row puts against
    d153's IVF probe-sweep recalls."""
    queries = _queries(spark, sf_dir)
    embs = load_table(spark, sf_dir, "embeddings")
    visited = nsw.search_visited(
        queries,
        _mutual_knn_edges(spark, sf_dir).select("node_a", "node_b"),
        embs,
        _entries(spark, sf_dir),
        beam=_BEAM,
        rounds=_ROUNDS,
    # The audit fans the visited set out to TWO consumers (the top-k
    # window and the n_scored aggregate), so the search's deliberately
    # lazy final expansion round would execute once per consumer —
    # materialize it exactly once before the fan-out (round 11,
    # guide §5: localCheckpoint before reuse; the serving faces keep
    # the single-consumer lazy form).
    ).localCheckpoint()
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("node")
    )
    nsw_top = (
        visited.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", F.col("node").alias("neighbor_id"))
    )
    n_scored = visited.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_scored")
    )
    exact = similarity.brute_force_topk(
        embs,
        embs.filter(
            (F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI)
        ),
        k=_TOPK,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(
            nsw_top.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
    )
    return (
        hits.join(n_scored, "query_id")
        .select(
            "query_id",
            "n_scored",
            "n_hits",
            (F.col("n_hits").cast("double") / _TOPK).alias("recall"),
        )
        .orderBy("query_id")
    )
