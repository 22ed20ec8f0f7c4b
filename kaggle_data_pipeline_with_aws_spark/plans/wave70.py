"""Round-11 wave 70 — HNSW-style LAYERED entry points for the
augmented-graph search (round-10 verdict #6: d208's recall@5 is 0.86
at sf0.1 from flat random entries; the public HNSW discipline keeps
hops/recall flat as the corpus grows by descending a sampled upper
layer to query-local entries):

- d216 — two-layer search: an UPPER layer (deterministic 1-in-8
  portable-hash sample of the corpus — HNSW's log-sampled level-1)
  carries its own small kNN graph (IVF top-8 among upper nodes,
  symmetrized — the same build discipline as the base graph); a short
  beam search over the upper layer from fixed entries yields each
  query's top-12 upper nodes, and THOSE become the layer-0 entry
  points (operators/nsw.py::search_visited_from). The base beam then
  starts already near the query instead of at corpus-global entries.
- d217 — the d209-shaped recall/cost audit: recall@5 against the
  exact ground truth with n_scored = upper + base scoring work, so
  the row reads side by side with d209. The measured trade (sweep in
  BENCH_SCALING.md round 11): locally-seeded beams expand into
  heavily-overlapping neighborhoods, so each round admits FEWER new
  candidates than globally-seeded ones — at sf0.1 a pure-layered
  beam 12 × 3 scores only ~470 nodes (vs flat's ~902) but recalls
  0.72. Spending the savings on width/depth (beam 20 × 4 rounds)
  lands recall@5 = 0.94 at ~815 scored nodes — ABOVE d209's 0.86 at
  ~10% FEWER scored nodes, the HNSW argument in measured form.

Scale shape: the upper layer is a COLUMN-PREDICATE sample (no
shuffle), its graph build is the same bucketed IVF (never all-pairs)
over 1/8 of the rows, and both searches are query-set-bounded
frontier joins. At 100 TB the upper graph is a substrate artifact like
the base graph; here it builds inline (corpus/8 at sandbox scales is
hundreds of rows).

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import nsw, similarity
from ..operators.knn_substrate import (
    UPPER_K as _UP_K,
    UPPER_N_PROBE as _UP_PROBE,
    UPPER_SAMPLE_MOD as _SAMPLE_MOD,
    augmented_knn_edges,
    upper_knn_edges,
    upper_layer_pred as _upper_pred,
)
from ..operators.text import portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query
from .wave63 import _aug_graph_cte, _cos_ab

_N_CENTS = 16
_Q_LO, _Q_HI = 100, 110
_UP_ENTRIES = 4     # fixed entries into the upper layer
_UP_BEAM = 6
_UP_ROUNDS = 2
_ENTRY_E = 12       # per-query entries handed to layer 0
# Layer-0 beam/rounds: measured at sf0.1 (BENCH_SCALING.md round 11),
# the locally-seeded beam produces a much smaller candidate frontier
# per round than d208's 16 global entries, so the SAME scored-node
# budget affords a wider, deeper search: beam 20 × 4 rounds scores
# ~815 nodes/query vs d209's 902 and lifts recall@5 0.86 → 0.94.
_BEAM = 20
_ROUNDS = 4
_TOPK = 5


def _upper_sql() -> str:
    expr = "'hl|' || CAST(vec_id AS VARCHAR)"
    return f"({portable_hash_sql(expr)} % {_SAMPLE_MOD}) = 0"


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter((F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def _upper_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upper layer's kNN graph — the published ``knn_edges_upper``
    substrate (operators/knn_substrate.py::upper_knn_edges: IVF
    top-``_UP_K`` among the sampled nodes, symmetrized, build-once
    like the base graphs)."""
    return upper_knn_edges(spark, sf_dir)


def _layer0_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, node, score): each query's top-``_ENTRY_E`` upper
    nodes after the short upper-layer beam search from the fixed
    entries (the ``_UP_ENTRIES`` smallest upper vec_ids —
    deterministic). The score column is the upper search's own
    round(cos, 6) — carried through so the layer-0 search seeds its
    visited set from it instead of re-joining the embedding table
    (operators/nsw.py::search_visited_from's pre-scored arm)."""
    embs = load_table(spark, sf_dir, "embeddings")
    upper_entry = (
        embs.filter(_upper_pred())
        .select(F.col("vec_id").alias("node"))
        .orderBy("node")
        .limit(_UP_ENTRIES)
    )
    uvis = nsw.search_visited(
        _queries(spark, sf_dir),
        _upper_edges(spark, sf_dir),
        embs,
        upper_entry,
        beam=_UP_BEAM,
        rounds=_UP_ROUNDS,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("node")
    )
    return (
        uvis.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ENTRY_E)
        .select("query_id", "node", "score")
    )


def _base_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nsw.search_visited_from(
        _queries(spark, sf_dir),
        augmented_knn_edges(spark, sf_dir).select("node_a", "node_b"),
        load_table(spark, sf_dir, "embeddings"),
        _layer0_entries(spark, sf_dir),
        beam=_BEAM,
        rounds=_ROUNDS,
    )


# ---------------------------------------------------------------------------
# oracle CTE builders
# ---------------------------------------------------------------------------
def _upper_ctes() -> str:
    """up / upper graph / upper beam rounds → ``uvis{_UP_ROUNDS}`` and
    ``entry0(query_id, node, score)``. Appends to wave63's
    ``_aug_graph_cte()`` chain (which ends at ``edges``)."""
    cos = _cos_ab()
    parts = [f""",
    up AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE {_upper_sql()}
    ),
    uassigned AS (
      SELECT node AS neighbor_id, centroid_id FROM (
        SELECT s.node, s.centroid_id,
               row_number() OVER (PARTITION BY s.node
                   ORDER BY s.cscore DESC, s.centroid_id ASC) AS r
        FROM (SELECT a.node, a.centroid_id, a.cscore
              FROM all_scored a JOIN up ON up.vec_id = a.node) s
      ) WHERE r = 1
    ),
    uprobed AS (
      SELECT node AS query_id, centroid_id FROM (
        SELECT s.node, s.centroid_id,
               row_number() OVER (PARTITION BY s.node
                   ORDER BY s.cscore DESC, s.centroid_id ASC) AS r
        FROM (SELECT a.node, a.centroid_id, a.cscore
              FROM all_scored a JOIN up ON up.vec_id = a.node) s
      ) WHERE r <= {_UP_PROBE}
    ),
    ucand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM uassigned a JOIN uprobed p ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    uknn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                   ORDER BY cos_sim DESC, c.neighbor_id ASC) AS rank
        FROM (
          SELECT c.query_id, c.neighbor_id, {cos} AS cos_sim
          FROM ucand c
          JOIN embeddings b ON b.vec_id = c.query_id
          JOIN embeddings a ON a.vec_id = c.neighbor_id
        ) c
      ) WHERE rank <= {_UP_K}
    ),
    usym AS MATERIALIZED (
      SELECT node_a AS u, node_b AS v FROM (
        SELECT DISTINCT least(query_id, neighbor_id) AS node_a,
                        greatest(query_id, neighbor_id) AS node_b
        FROM uknn)
      UNION ALL
      SELECT node_b AS u, node_a AS v FROM (
        SELECT DISTINCT least(query_id, neighbor_id) AS node_a,
                        greatest(query_id, neighbor_id) AS node_b
        FROM uknn)
    ),
    uentries AS (
      SELECT vec_id AS node FROM up ORDER BY vec_id LIMIT {_UP_ENTRIES}
    ),
    uvis0 AS MATERIALIZED (
      SELECT b.query_id, a.vec_id AS node, {cos} AS score
      FROM embeddings a
      JOIN uentries e ON e.node = a.vec_id,
      qs b
      WHERE a.vec_id <> b.query_id
    )"""]
    for r in range(1, _UP_ROUNDS + 1):
        parts.append(f""",
    ubeam{r - 1} AS MATERIALIZED (
      SELECT query_id, node, score FROM (
        SELECT query_id, node, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, node) AS rk
        FROM uvis{r - 1}) WHERE rk <= {_UP_BEAM}
    ),
    ucand{r} AS (
      SELECT DISTINCT w.query_id, s.v AS node
      FROM ubeam{r - 1} w JOIN usym s ON s.u = w.node
      WHERE s.v <> w.query_id
        AND NOT EXISTS (SELECT 1 FROM uvis{r - 1} x
                        WHERE x.query_id = w.query_id AND x.node = s.v)
    ),
    usc{r} AS (
      SELECT c.query_id, c.node, {cos} AS score
      FROM ucand{r} c
      JOIN embeddings a ON a.vec_id = c.node
      JOIN qs b ON b.query_id = c.query_id
    ),
    uvis{r} AS MATERIALIZED (
      SELECT * FROM uvis{r - 1} UNION ALL SELECT * FROM usc{r}
    )""")
    parts.append(f""",
    entry0 AS MATERIALIZED (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, node) AS rk
        FROM uvis{_UP_ROUNDS}) WHERE rk <= {_ENTRY_E}
    )""")
    return "".join(parts)


def _base_ctes() -> str:
    """qs, sym, vis0 (scored per-query entries) … vis{_ROUNDS}: the
    wave-63 unroll with entry0 instead of global entries."""
    cos = _cos_ab()
    parts = [f""",
    qs AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id >= {_Q_LO} AND vec_id < {_Q_HI}
    ),
    medges AS MATERIALIZED (
      SELECT node_a, node_b FROM edges
    ),
    sym AS MATERIALIZED (
      SELECT node_a AS u, node_b AS v FROM medges
      UNION ALL
      SELECT node_b AS u, node_a AS v FROM medges
    )"""]
    parts.append(_upper_ctes())
    parts.append(f""",
    vis0 AS MATERIALIZED (
      SELECT b.query_id, a.vec_id AS node, {cos} AS score
      FROM entry0 e
      JOIN embeddings a ON a.vec_id = e.node
      JOIN qs b ON b.query_id = e.query_id
      WHERE a.vec_id <> b.query_id
    )""")
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


def _d216_oracle() -> str:
    return f"""{_aug_graph_cte()}{_base_ctes()}
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


@spark_query("d216_nsw_layered_search", _d216_oracle())
def d216_nsw_layered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer NSW/HNSW search: a short beam over the sampled upper
    layer descends each query to its top-4 upper nodes, which seed the
    layer-0 beam search over the augmented substrate (same beam/rounds
    as d208 — the entry points are the only change). Per round the
    joined volume stays queries × beam × degree; the upper layer adds
    a corpus/8-node graph whose search cost is query-bounded too."""
    visited = _base_visited(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("node")
    )
    return (
        visited.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("node").alias("neighbor_id"),
            "score",
        )
        .orderBy("query_id", "rank")
    )


def _d217_oracle() -> str:
    cos = _cos_ab()
    return f"""{_aug_graph_cte()}{_base_ctes()},
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
      SELECT q.query_id,
             CAST(coalesce(u.n, 0) + coalesce(v.n, 0) AS BIGINT)
               AS n_scored
      FROM qs q
      LEFT JOIN (SELECT query_id, count(*) AS n FROM uvis{_UP_ROUNDS}
                 GROUP BY 1) u ON u.query_id = q.query_id
      LEFT JOIN (SELECT query_id, count(*) AS n FROM vis{_ROUNDS}
                 GROUP BY 1) v ON v.query_id = q.query_id
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


@spark_query("d217_nsw_layered_recall", _d217_oracle())
def d217_nsw_layered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost audit of the layered search, d209's exact shape so
    the flat-entry and layered-entry rows read side by side: recall@5
    against the exact ground truth, n_scored = upper + layer-0 scoring
    work (both query-bounded). The layered entries recover the recall
    the flat random entries leave behind as the corpus grows — the
    HNSW argument, measured."""
    queries = _queries(spark, sf_dir)
    embs = load_table(spark, sf_dir, "embeddings")
    uvis = nsw.search_visited(
        queries,
        _upper_edges(spark, sf_dir),
        embs,
        embs.filter(_upper_pred())
        .select(F.col("vec_id").alias("node"))
        .orderBy("node")
        .limit(_UP_ENTRIES),
        beam=_UP_BEAM,
        rounds=_UP_ROUNDS,
    # uvis feeds TWO consumers here (the entry0 window and the n_up
    # aggregate) — materialize its lazy final round exactly once
    # before the fan-out (round 11, guide §5).
    ).localCheckpoint()
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("node")
    )
    entry0 = (
        uvis.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ENTRY_E)
        # keep the upper search's scores: the layer-0 search seeds its
        # visited set from them (no entry re-scoring join)
        .select("query_id", "node", "score")
    )
    visited = nsw.search_visited_from(
        queries,
        augmented_knn_edges(spark, sf_dir).select("node_a", "node_b"),
        embs,
        entry0,
        beam=_BEAM,
        rounds=_ROUNDS,
    # Two consumers below (nsw_top window + n_base aggregate): one
    # materialization instead of one lazy-final-round execution per
    # consumer (round 11, guide §5).
    ).localCheckpoint()
    nsw_top = (
        visited.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", F.col("node").alias("neighbor_id"))
    )
    n_up = uvis.groupBy("query_id").agg(F.count("*").alias("nu"))
    n_base = visited.groupBy("query_id").agg(F.count("*").alias("nb"))
    n_scored = (
        queries.select("query_id")
        .join(n_up, "query_id", "left")
        .join(n_base, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce(F.col("nu"), F.lit(0))
                + F.coalesce(F.col("nb"), F.lit(0))
            )
            .cast("long")
            .alias("n_scored"),
        )
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
