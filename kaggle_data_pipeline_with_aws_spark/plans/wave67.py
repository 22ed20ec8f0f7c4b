"""Round-10 wave 67 — attribute-filtered ANN serving:

- d212 — metadata-constrained vector search: the corpus carries a
  deterministic shard attribute (portable hash of the vector id, mod
  4); a query may only retrieve neighbors from shard 1. The engine
  PRE-FILTERS the posting lists — the IVF quantizer stays global (the
  production pattern: the index is built offline on the full corpus;
  a filter narrows candidates at serve time), so the filter lands on
  the assignment input and every downstream stage (cell equi-join,
  exact re-rank, top-k window) touches filtered rows only.
- d213 — the filtered-recall audit: the same search vs the exact
  brute-force top-k over the FILTERED corpus, plus how many candidates
  the probed cells admitted — the d153/d209 audit shape for the
  filtered path (filters shrink cells, so probing the same n_probe
  cells yields fewer candidates; recall against the filtered ground
  truth is the number that says whether n_probe must grow with
  selectivity).

Scale shape: the filter is a pure column predicate evaluated in the
corpus scan's codegen span (no UDF, no join) — at 100 TB the filtered
IVF search costs the filtered fraction of the index scan, never a
post-hoc discard of scored neighbors.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query

_N_CENTS = 16
_Q_LO, _Q_HI = 100, 110
_K = 3
_N_PROBE = 2
_N_SHARDS = 4
_SHARD = 1


def _shard_col() -> F.Column:
    return F.pmod(
        portable_hash(
            F.concat(F.lit("shard|"), F.col("vec_id").cast("string"))
        ),
        F.lit(_N_SHARDS),
    )


def _shard_sql() -> str:
    expr = "'shard|' || CAST(vec_id AS VARCHAR)"
    return f"({portable_hash_sql(expr)} % {_N_SHARDS})"


def _filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(_shard_col() == _SHARD)


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI)
    )


def _filtered_ivf_cte() -> str:
    """WITH-chain ending at ``ranked`` (query_id, neighbor_id, cos_sim,
    rank) — the d20 IVF statement with the FILTERED corpus as the
    assignment input and the global quantizer/queries untouched."""
    from .llm_data import _DOT_SQL, _DOT_VC, _NORM_SQL, _NORM_V, _NORM_C

    cos_ab = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    cos_vc = f"round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6)"
    return f"""
    WITH fc AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_shard_sql()} = {_SHARD}
    ),
    cents AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id < {_N_CENTS}
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id >= {_Q_LO} AND vec_id < {_Q_HI}
    ),
    assigned AS (
      SELECT node AS neighbor_id, centroid_id FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM fc v, cents c) WHERE r = 1
    ),
    probed AS (
      SELECT node AS query_id, centroid_id FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM (SELECT query_id AS vec_id, embedding FROM qs) v, cents c
      ) WHERE r <= {_N_PROBE}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM (
        SELECT cand.query_id, cand.neighbor_id,
               {cos_ab} AS cos_sim
        FROM cand
        JOIN embeddings b ON b.vec_id = cand.query_id
        JOIN embeddings a ON a.vec_id = cand.neighbor_id
      )
    )"""


def _d212_oracle() -> str:
    return f"""{_filtered_ivf_cte()}
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


@spark_query("d212_ann_filtered_search", _d212_oracle())
def d212_ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered IVF search: candidates come only from the
    allowed shard (a pure column predicate in the corpus scan's
    codegen span — pre-filtered posting lists), the quantizer stays
    global, and the top-3 per query is exact within the admitted
    candidates. At 100 TB the search cost is the filtered fraction of
    the probed cells, never a post-hoc discard of scored rows."""
    out = similarity.ivf_topk_fixed_centroids(
        _filtered(spark, sf_dir),
        _queries(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_CENTS),
        k=_K,
        n_probe=_N_PROBE,
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"),
        "neighbor_id", "cos_sim",
    ).orderBy("query_id", "rank")


def _d213_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    cos_ab = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""{_filtered_ivf_cte()},
    ivf_top AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rank <= {_K}
    ),
    exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY b.query_id
                   ORDER BY {cos_ab} DESC, a.vec_id) AS rk
        FROM (SELECT vec_id, embedding FROM fc) a,
             (SELECT query_id, embedding FROM qs) b(query_id, embedding)
        WHERE a.vec_id <> b.query_id) WHERE rk <= {_K}
    ),
    n_cand AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY 1
    ),
    hits AS (
      SELECT e.query_id, CAST(count(i.neighbor_id) AS BIGINT) AS n_hits
      FROM exact_top e
      LEFT JOIN ivf_top i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY 1
    )
    SELECT h.query_id, c.n_candidates, h.n_hits,
           CAST(h.n_hits AS DOUBLE) / {_K} AS recall
    FROM hits h JOIN n_cand c ON c.query_id = h.query_id
    ORDER BY h.query_id
    """


@spark_query("d213_ann_filtered_recall", _d213_oracle())
def d213_ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-search quality audit: IVF-within-shard top-3 vs the
    exact brute-force top-3 over the same filtered corpus, plus the
    number of candidates the probed cells admitted — the selectivity
    signal (filters shrink cells; when candidates per query get small,
    n_probe must grow to hold recall). Ground truth is
    filtered-corpus-sized per query, the d205/d209 audit discipline."""
    filtered = _filtered(spark, sf_dir).localCheckpoint()
    queries = _queries(spark, sf_dir)
    cents = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_CENTS)
    # One corpus assignment + one query probing, each checkpointed
    # (round 11, guide §2.4 — the wave-69 substrate discipline): the
    # IVF top-k AND the candidate-count restatement previously each
    # re-assigned the filtered corpus to cells (two corpus×centroids
    # passes per plan; the r10 verdict's 100× cost driver for this
    # face). Both now derive from the same two cell tables.
    assigned = (
        similarity.ivf_cells_fixed_centroids(
            filtered, cents, 1, "neighbor_id", "__cv"
        )
        .drop("__crank")
        .localCheckpoint()
    )
    probed = (
        similarity.ivf_cells_fixed_centroids(
            queries, cents, _N_PROBE, "query_id", "__qv"
        )
        .drop("__crank")
        .localCheckpoint()
    )
    ivf = similarity.ivf_topk_precomputed(assigned, probed, k=_K).select(
        "query_id", "neighbor_id"
    )
    cand = (
        probed.select("query_id", "centroid_id")
        .join(assigned.select("neighbor_id", "centroid_id"), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    exact = similarity.brute_force_topk(
        filtered, queries, k=_K
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(
            ivf.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
    )
    return (
        hits.join(n_cand, "query_id")
        .select(
            "query_id",
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / _K).alias("recall"),
        )
        .orderBy("query_id")
    )
