"""Round-7 wave 38 — ANN *index tuning* operators (the vector-index
counterparts of wave 37's d152 LSH tuning and d148 join-skew report):

- d153 — IVF probe-budget sweep: recall@5 against the exact top-5 and
  the scanned corpus fraction, per probe budget n_probe ∈ {1,2,4,8}
  over the fixed 16-centroid quantizer — THE recall/cost trade-off
  curve an ANN deployment reads before pinning its probe count (d59
  measures one point of this curve; this is the whole curve).
- d154 — IVF cell-balance audit: per-cell member counts and load
  ratios of the coarse quantizer assignment. A hot cell is to a
  vector index what a hot key is to a shuffle (d148): probe latency
  variance and recall loss concentrate there; the fix (re-fit, split
  the cell, or add centroids) starts from this table.

Reference scope: beyond-reference LLM-data-curation surface.

Determinism: assignment/probing/rescoring use the proven d20
discipline (round-to-6 cosine before every argmax/rank, id
tiebreaks); recall and load ratios are exact integer-count ratios
with a single final division, so every value is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..sources.readers import load_table
from .registry import spark_query


_N_CENTS = 16
_N_QUERIES = 10
_PROBE_GRID = (1, 2, 4, 8)
_K = 5

_DOT_VC = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_OF = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


def _assign_cte() -> str:
    """Shared CTE text: corpus→cell assignment against the fixed
    16-centroid quantizer (d20's argmax discipline)."""
    return f"""
    cents AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id < {_N_CENTS}
    ),
    corpus_scored AS (
      SELECT v.vec_id, c.centroid_id,
             round({_DOT_VC} / ({_NORM_OF.format(v='v')} * {_NORM_OF.format(v='c')}), 6)
               AS cscore
      FROM embeddings v, cents c
    ),
    assigned AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM corpus_scored
      ) WHERE r = 1
    )"""


# ---------------------------------------------------------------------------
# d153 — IVF probe-budget sweep (recall vs scanned fraction).
# ---------------------------------------------------------------------------
def _d153_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    grid = ", ".join(f"({p})" for p in _PROBE_GRID)
    return f"""
    WITH {_assign_cte().lstrip()},
    q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {_N_QUERIES}
    ),
    query_scored AS (
      SELECT v.vec_id AS query_id, c.centroid_id,
             round({_DOT_VC} / ({_NORM_OF.format(v='v')} * {_NORM_OF.format(v='c')}), 6)
               AS cscore
      FROM embeddings v, cents c
      WHERE v.vec_id < {_N_QUERIES}
    ),
    probes AS (
      SELECT query_id, centroid_id AS cell, r AS crank FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM query_scored
      ) WHERE r <= {max(_PROBE_GRID)}
    ),
    grid(p) AS (VALUES {grid}),
    cand AS (
      SELECT pr.query_id, a.vec_id AS neighbor_id, pr.crank
      FROM probes pr JOIN assigned a ON a.cell = pr.cell
      WHERE a.vec_id <> pr.query_id
    ),
    rescored AS (
      SELECT cand.query_id, cand.neighbor_id, cand.crank,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM cand
      JOIN embeddings b ON b.vec_id = cand.query_id
      JOIN embeddings a ON a.vec_id = cand.neighbor_id
    ),
    ivf_topk AS (
      SELECT p, query_id, neighbor_id FROM (
        SELECT g.p, r.query_id, r.neighbor_id,
               row_number() OVER (PARTITION BY g.p, r.query_id
                   ORDER BY r.cos_sim DESC, r.neighbor_id ASC) AS rk
        FROM rescored r JOIN grid g ON r.crank <= g.p
      ) WHERE rk <= {_K}
    ),
    truth_scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < {_N_QUERIES} AND a.vec_id != b.vec_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM truth_scored
      ) WHERE r <= {_K}
    ),
    hits AS (
      SELECT g.p, count(*) AS n_hits
      FROM grid g
      JOIN ivf_topk i ON i.p = g.p
      JOIN truth t ON t.query_id = i.query_id
                  AND t.neighbor_id = i.neighbor_id
      GROUP BY 1
    ),
    sizes AS (SELECT cell, count(*) AS n_cell FROM assigned GROUP BY 1),
    scanned AS (
      SELECT g.p, sum(s.n_cell) AS n_scanned
      FROM grid g
      JOIN probes pr ON pr.crank <= g.p
      JOIN sizes s ON s.cell = pr.cell
      GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_corpus FROM embeddings)
    SELECT g.p AS n_probe,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
                 / ({_K} * {_N_QUERIES}.0), 6) AS DOUBLE) AS mean_recall,
           CAST(round(CAST(sc.n_scanned AS DOUBLE)
                 / (CAST(n.n_corpus AS DOUBLE) * {_N_QUERIES}.0), 6)
             AS DOUBLE) AS scanned_frac
    FROM grid g
    LEFT JOIN hits h ON h.p = g.p
    JOIN scanned sc ON sc.p = g.p, n
    ORDER BY 1
    """


@spark_query("d153_ivf_probe_sweep", _d153_oracle())
def d153_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost curve: for each probe budget p in
    {1,2,4,8} over the fixed 16-centroid quantizer, recall@5 of the
    probed-and-rescored top-5 against the exact top-5, next to the
    corpus fraction the budget scans. Assignment, probe ranks, and the
    candidate rescoring are each computed ONCE; the per-budget top-5
    comes from exploding each candidate to the budgets that admit it
    (p >= its cell's probe rank) and ranking within (query, p) —
    partitions of at most |candidates| rows, never corpus-sized. Truth
    is the proven d09 broadcast-query brute force. At scale the only
    corpus-sized work is the one assignment pass and one candidate
    rescore (bounded by the largest budget), both Arrow-batched."""
    embs = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        embs.filter(F.col("vec_id") < _N_CENTS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cemb"),
        )
    )
    queries = embs.filter(F.col("vec_id") < _N_QUERIES)

    # corpus -> cell (argmax cosine, partial-agg'd min-struct; d137/d15
    # pattern so one row per vector leaves the map side)
    cscore = F.round(
        similarity.cosine_vectorized(F.col("embedding"), F.col("cemb")), 6
    )
    assigned = (
        embs.select("vec_id", "embedding")
        .crossJoin(cents)
        .select("vec_id", "embedding", "centroid_id", cscore.alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct((-F.col("cs")).alias("ns"), F.col("centroid_id"))
            ).alias("b"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("b.centroid_id").alias("cell"))
    )
    # query -> probe ranks 1..max(grid)
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cs").desc(), F.col("centroid_id").asc()
    )
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"),
        )
        .crossJoin(cents)
        .select(
            "query_id",
            "qemb",
            "centroid_id",
            F.round(
                similarity.cosine_vectorized(F.col("qemb"), F.col("cemb")), 6
            ).alias("cs"),
        )
        .withColumn("crank", F.row_number().over(probe_w))
        .filter(F.col("crank") <= max(_PROBE_GRID))
        .select("query_id", "qemb", F.col("centroid_id").alias("cell"), "crank")
    )
    # candidates rescored ONCE; each explodes to the budgets admitting it
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "crank",
            F.round(
                similarity.cosine_vectorized(
                    F.col("qemb"), F.col("embedding")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    grid = F.array(*[F.lit(p) for p in _PROBE_GRID])
    per_budget = cand.select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        F.explode(F.filter(grid, lambda x: x >= F.col("crank"))).alias("p"),
    )
    topk_w = Window.partitionBy("p", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    ivf_topk = (
        per_budget.withColumn("rk", F.row_number().over(topk_w))
        .filter(F.col("rk") <= _K)
        .select("p", "query_id", "neighbor_id")
    )
    truth = similarity.brute_force_topk(embs, queries, k=_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        ivf_topk.join(truth, ["query_id", "neighbor_id"])
        .groupBy("p")
        .agg(F.count("*").alias("n_hits"))
    )
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n_cell"))
    scanned = (
        probes.join(F.broadcast(sizes), "cell")
        .select("query_id", "crank", "n_cell")
        .select(
            "n_cell",
            F.explode(F.filter(grid, lambda x: x >= F.col("crank"))).alias(
                "p"
            ),
        )
        .groupBy("p")
        .agg(F.sum("n_cell").alias("n_scanned"))
    )
    n_corpus = embs.agg(F.count("*").alias("n_corpus"))
    grid_df = spark.range(1).select(
        F.explode(grid).alias("n_probe")
    )
    return (
        grid_df.join(
            hits.withColumnRenamed("p", "n_probe"), "n_probe", "left"
        )
        .join(scanned.withColumnRenamed("p", "n_probe"), "n_probe")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "n_probe",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / float(_K * _N_QUERIES),
                6,
            ).alias("mean_recall"),
            F.round(
                F.col("n_scanned").cast("double")
                / (F.col("n_corpus").cast("double") * float(_N_QUERIES)),
                6,
            ).alias("scanned_frac"),
        )
        .orderBy("n_probe")
    )


# ---------------------------------------------------------------------------
# d154 — IVF cell-balance audit.
# ---------------------------------------------------------------------------
def _d154_oracle() -> str:
    return f"""
    WITH {_assign_cte().lstrip()},
    sizes AS (SELECT cell, count(*) AS n_vecs FROM assigned GROUP BY 1),
    n AS (SELECT count(*) AS n_corpus FROM embeddings)
    SELECT cell AS cell_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(round(CAST(n_vecs AS DOUBLE) / n.n_corpus, 6) AS DOUBLE)
             AS share,
           CAST(round(CAST(n_vecs AS DOUBLE)
                 / (CAST(n.n_corpus AS DOUBLE) / {_N_CENTS}.0), 6)
             AS DOUBLE) AS load_ratio
    FROM sizes, n
    ORDER BY 1
    """


@spark_query("d154_ivf_cell_balance", _d154_oracle())
def d154_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size audit of the coarse quantizer: per cell, member count,
    corpus share, and load ratio vs the uniform ideal (n/16). The
    vector-index twin of d148's join-skew report — a load_ratio far
    above 1 is a hot cell (probe latency variance, recall loss when
    the budget is spent there) and the signal to re-fit or split. One
    corpus assignment pass (broadcast centroids, partial-agg argmax),
    then a 16-row rollup."""
    embs = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        embs.filter(F.col("vec_id") < _N_CENTS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cemb"),
        )
    )
    cscore = F.round(
        similarity.cosine_vectorized(F.col("embedding"), F.col("cemb")), 6
    )
    assigned = (
        embs.select("vec_id", "embedding")
        .crossJoin(cents)
        .select("vec_id", "centroid_id", cscore.alias("cs"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct((-F.col("cs")).alias("ns"), F.col("centroid_id"))
            ).alias("b")
        )
        .select("vec_id", F.col("b.centroid_id").alias("cell"))
    )
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    n = embs.agg(F.count("*").alias("n_corpus"))
    return (
        sizes.crossJoin(F.broadcast(n))
        .select(
            F.col("cell").alias("cell_id"),
            "n_vecs",
            F.round(
                F.col("n_vecs").cast("double") / F.col("n_corpus"), 6
            ).alias("share"),
            F.round(
                F.col("n_vecs").cast("double")
                / (F.col("n_corpus").cast("double") / float(_N_CENTS)),
                6,
            ).alias("load_ratio"),
        )
        .orderBy("cell_id")
    )
