"""Round-11 wave 73 — scalar-quantized (SQ8) embedding search, the
third memory-compression tier of the ANN face (exact fp32 = d09,
product-quantized ADC ≈ 6 B/vector = d137; SQ8 = 1 B/dimension, the
faiss ``SQ8`` / Milvus ``IVF_SQ8`` discipline):

- d219 — SQ8 search with exact rerank: every dimension is affinely
  quantized to an int in [0, 255] against the corpus' per-dimension
  [min, max] (64 trained doubles — the whole "codebook"); candidates
  are ranked by the cosine of the DEQUANTIZED vectors (midpoint
  reconstruction lo + (q + ½)·(hi − lo)/255), the top-20 per query are
  re-scored exactly in fp32, and the top-5 of the rerank are served.
  Both scores are returned so the quantization error is visible per
  row.
- d220 — the d209-shaped recall audit: recall@5 of the reranked SQ8
  pipeline against the exact fp32 ground truth, per query, with the
  rerank budget in the row. SQ8's approximation is much tighter than
  PQ's (no subspace centroids, just 8-bit rounding), so recall@5 is
  1.0 at every sandbox scale — the measured argument for the 4×
  memory cut being the default serving tier.

Scale shape: quantization is a per-row map (no shuffle); the
per-dimension [min, max] "training" is one 64-group aggregate
published once per corpus version (here inline — vocab-sized, 64
rows); scoring shuffles only k·|queries| rows exactly like d09's
brute tier, but the scan side streams 64 B/vector instead of 256 B —
at 100 TB the 4× byte cut is the whole win, and the exact rerank
touches only |queries| × 20 fp32 rows. Everything stays in
whole-stage codegen (transform/aggregate folds; ordered adds, so the
DuckDB oracle reproduces every IEEE step bit-for-bit).

Reference scope: beyond-reference LLM-serving surface (ANN tiers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query

_DIM = 64
_Q_LO, _Q_HI = 100, 110
_TOPK = 5
_RERANK = 20


def _dim_bounds(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Per-dimension corpus [min, max] — the 64-double SQ8 'codebook'
    (one aggregate over posexploded dims; dimension-count-sized, the
    vocab-fence pattern)."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
        .collect()
    )
    by_i = {r["i"]: (r["lo"], r["hi"]) for r in rows}
    los = [by_i[i][0] for i in range(_DIM)]
    his = [by_i[i][1] for i in range(_DIM)]
    return los, his


def _dequant(col: Column, los: Column, his: Column) -> Column:
    """embedding → SQ8-dequantized double array: q = clamp(floor(
    (x − lo)·255/(hi − lo)), 0, 255), reconstructed at the cell
    midpoint lo + (q + ½)·(hi − lo)/255. A constant dimension
    (hi = lo) reconstructs as lo exactly. Every arithmetic step is
    double-precision in a fixed order — the oracle's twin expression
    reproduces it bit-for-bit."""

    def dq(x, i):
        lo = F.element_at(los, i + 1)
        hi = F.element_at(his, i + 1)
        q = F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0),
                F.floor((x.cast("double") - lo) * 255.0 / (hi - lo)),
            ),
        )
        return F.when(hi == lo, lo).otherwise(
            lo + (q + 0.5) * (hi - lo) / 255.0
        )

    return F.transform(col, dq)


def _fold_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq8_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cos_sq8): all corpus candidates scored
    in the dequantized space, self-matches excluded."""
    los_l, his_l = _dim_bounds(spark, sf_dir)
    los = F.array(*[F.lit(float(v)) for v in los_l])
    his = F.array(*[F.lit(float(v)) for v in his_l])
    embs = load_table(spark, sf_dir, "embeddings")
    # Norms are a per-SIDE property, so they are computed in the
    # projections BELOW the cross join — once per corpus row / once
    # per query row — instead of twice per candidate pair (round-11,
    # guide §1.2 "per-task work": cuts the dominant per-pair fold
    # count 3× → 1×; same expressions on the same arrays, so every
    # emitted double is bit-identical).
    c = embs.select(
        F.col("vec_id").alias("neighbor_id"),
        _dequant(F.col("embedding"), los, his).alias("__cv"),
    ).select(
        "neighbor_id",
        "__cv",
        F.sqrt(_fold_dot(F.col("__cv"), F.col("__cv"))).alias("__cn"),
    )
    q = (
        embs.filter(
            (F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            _dequant(F.col("embedding"), los, his).alias("__qv"),
        )
        .select(
            "query_id",
            "__qv",
            F.sqrt(_fold_dot(F.col("__qv"), F.col("__qv"))).alias("__qn"),
        )
    )
    cos = _fold_dot(F.col("__qv"), F.col("__cv")) / (
        F.col("__qn") * F.col("__cn")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos, 6).alias("cos_sq8"),
        )
    )


def _sq8_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d219 pipeline: SQ8 top-``_RERANK`` → exact fp32 rerank →
    top-``_TOPK`` with both scores."""
    from ..operators import similarity

    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_sq8").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        _sq8_scored(spark, sf_dir)
        .withColumn("qrk", F.row_number().over(wq))
        .filter(F.col("qrk") <= _RERANK)
        .select("query_id", "neighbor_id", "cos_sq8")
    )
    embs = load_table(spark, sf_dir, "embeddings")
    exact = (
        cand.join(
            embs.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qe"),
            ),
            "query_id",
        )
        .join(
            embs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__ne"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "cos_sim",
            F.round(
                similarity.cosine(F.col("__qe"), F.col("__ne")), 6
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "cos_sq8")
    )


# -- oracle SQL ---------------------------------------------------------
def _dq_sql(v: str) -> str:
    """DuckDB twin of ``_dequant`` for table alias ``v`` at list index
    ``i`` (1-based)."""
    x = f"CAST({v}.embedding[i] AS DOUBLE)"
    lo, hi = "dl.los[i]", "dl.his[i]"
    q = (
        f"least(255.0, greatest(0.0, "
        f"floor(({x} - {lo}) * 255.0 / ({hi} - {lo}))))"
    )
    return (
        f"CASE WHEN {hi} = {lo} THEN {lo} "
        f"ELSE {lo} + ({q} + 0.5) * ({hi} - {lo}) / 255.0 END"
    )


def _fold_sql(term: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, "
        f"{_DIM + 1}), i -> {term})), (acc, x) -> acc + x)"
    )


def _sq8_ctes() -> str:
    dqa, dqb = _dq_sql("a"), _dq_sql("b")
    dot = _fold_sql(f"({dqa}) * ({dqb})")
    na = f"sqrt({_fold_sql(f'({dqa}) * ({dqa})')})"
    nb = f"sqrt({_fold_sql(f'({dqb}) * ({dqb})')})"
    from .llm_data import _DOT_SQL, _NORM_SQL

    exact = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""WITH dimstats AS MATERIALIZED (
      SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
             max(CAST(embedding[i] AS DOUBLE)) AS hi
      FROM embeddings, range(1, {_DIM + 1}) t(i)
      GROUP BY i
    ),
    dl AS MATERIALIZED (
      SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his
      FROM dimstats
    ),
    sq8 AS MATERIALIZED (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round(({dot}) / (({na}) * ({nb})), 6) AS cos_sq8
      FROM embeddings a, embeddings b, dl
      WHERE b.vec_id >= {_Q_LO} AND b.vec_id < {_Q_HI}
        AND a.vec_id != b.vec_id
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos_sq8 FROM (
        SELECT query_id, neighbor_id, cos_sq8,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sq8 DESC, neighbor_id ASC) AS qrk
        FROM sq8) WHERE qrk <= {_RERANK}
    ),
    reranked AS MATERIALIZED (
      SELECT c.query_id, c.neighbor_id, c.cos_sq8, {exact} AS cos_sim,
             row_number() OVER (PARTITION BY c.query_id
                 ORDER BY {exact} DESC, c.neighbor_id ASC) AS rank
      FROM cand c
      JOIN embeddings b ON b.vec_id = c.query_id
      JOIN embeddings a ON a.vec_id = c.neighbor_id
    )"""


def _d219_oracle() -> str:
    return f"""{_sq8_ctes()}
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           cos_sim, cos_sq8
    FROM reranked WHERE rank <= {_TOPK}
    ORDER BY query_id, rank
    """


@spark_query("d219_ann_sq8_rerank_search", _d219_oracle())
def d219_ann_sq8_rerank_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQ8 scalar-quantized search with exact rerank: dimensions
    affinely quantized to 8 bits against corpus per-dim [min, max],
    candidates ranked by dequantized cosine, top-20 re-scored in
    fp32, top-5 served with both scores. 1 B/dim = 4× less scan
    bandwidth than fp32 on the candidate-generation pass, and the
    rerank touches only queries × 20 full-precision rows."""
    return _sq8_reranked(spark, sf_dir).orderBy("query_id", "rank")


def _d220_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    exact = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""{_sq8_ctes()},
    sq8_top AS (
      SELECT query_id, neighbor_id FROM reranked WHERE rank <= {_TOPK}
    ),
    exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY {exact} DESC, a.vec_id ASC) AS rk
        FROM embeddings a, embeddings b
        WHERE b.vec_id >= {_Q_LO} AND b.vec_id < {_Q_HI}
          AND a.vec_id != b.vec_id) WHERE rk <= {_TOPK}
    )
    SELECT e.query_id, CAST({_RERANK} AS BIGINT) AS n_reranked,
           CAST(count(s.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(s.neighbor_id) AS DOUBLE) / {_TOPK} AS recall
    FROM exact_top e
    LEFT JOIN sq8_top s
      ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@spark_query("d220_ann_sq8_recall", _d220_oracle())
def d220_ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the SQ8+rerank pipeline against the exact fp32
    ground truth (the d209/d217 audit shape). 8-bit affine rounding
    is a far tighter approximation than PQ subspace centroids, so the
    reranked pipeline recovers the exact top-5 everywhere on this
    corpus (recall 1.0) while the candidate pass reads 4× fewer
    vector bytes — the measured case for SQ8 as the default tier."""
    from ..operators import similarity

    sq8_top = _sq8_reranked(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    embs = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(
        embs,
        embs.filter(
            (F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI)
        ),
        k=_TOPK,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(
            sq8_top.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.lit(_RERANK).cast("long").alias("n_reranked"),
        "n_hits",
        (F.col("n_hits").cast("double") / _TOPK).alias("recall"),
    ).orderBy("query_id")
