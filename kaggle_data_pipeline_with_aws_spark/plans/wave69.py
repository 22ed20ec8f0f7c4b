"""Round-11 wave 69 — filtered-ANN probe ADAPTATION (round-10 verdict
#3: d213 measures per-query admitted-candidate counts; use that signal):

- d214 — adaptive filtered search: the shard-filtered IVF search (the
  d212 setup: global quantizer, filter pre-applied to the posting
  lists) first probes ``_P_BASE`` cells per query; any query whose
  admitted candidate count falls below ``_MIN_CAND`` (the k×m floor —
  the filter shrank its cells too far) escalates to ``_P_HI`` probes.
  The escalation decision is a per-query column predicate on the
  candidate count — the starved queries re-enter the SAME cell
  equi-join plan with a wider probe list; non-starved queries never
  pay the extra scan.
- d215 — the d153-style policy sweep: fixed probes at both levels vs
  the adaptive policy, each row carrying mean recall@k against the
  exact filtered-corpus ground truth, the total candidates scanned
  (the cost), and how many queries escalated — the table that shows
  recall recovered at bounded extra scan (adaptive ≈ fixed-high
  recall at a fraction of fixed-high's candidate volume whenever most
  queries are healthy).

Scale shape: candidate counting is a by-product of the cell equi-join
(one count aggregate over the candidate pairs, never a second index
pass); the starved re-probe touches only starved queries × their
wider cells. At 100 TB with selective filters this is the production
serve-time pattern: filters shrink posting lists unpredictably, so a
fixed n_probe either over-scans every healthy query or starves the
filtered ones — the admitted-count signal prices each query
individually.

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
_P_BASE = 2
_P_HI = 6
# Escalation floor (~k×5 admitted candidates): below it the filtered
# cells cannot even fill a healthy rerank pool. On this corpus the
# floor splits the query set at sf0.001/sf0.01 (the filter starves a
# few queries' cells) and is cleared by every query at sf0.1 (cells
# grow with the corpus) — exactly the selectivity-dependent behavior
# the adaptation exists for.
_MIN_CAND = 14
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


def _substrate(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two cell tables EVERY probe level derives from, each
    computed once and checkpointed (round-11 optimization, guide
    §2.4): ``assigned`` = the filtered corpus's best cell with the
    vector carried (neighbor_id, __cv, centroid_id), ``qcells`` = the
    queries' top-``_P_HI`` probe cells with vector and rank carried
    (query_id, __qv, centroid_id, __crank). A probe level ``n`` is
    ``qcells.filter(__crank <= n)`` — previously the counting pass and
    each ``ivf_topk_fixed_centroids`` call re-assigned corpus and
    queries from scratch (3-4 assignment passes per query plan)."""
    cents = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_CENTS)
    assigned = (
        similarity.ivf_cells_fixed_centroids(
            _filtered(spark, sf_dir), cents, 1, "neighbor_id", "__cv"
        )
        .drop("__crank")
        .localCheckpoint()
    )
    qcells = similarity.ivf_cells_fixed_centroids(
        _queries(spark, sf_dir), cents, _P_HI, "query_id", "__qv"
    ).localCheckpoint()
    return assigned, qcells


def _ncand_from(
    assigned: DataFrame,
    qcells: DataFrame,
    queries: DataFrame,
    n_probe: int,
) -> DataFrame:
    """(query_id, n_candidates) at probe level ``n_probe`` from the
    substrate tables, zero-candidate queries kept."""
    counts = (
        qcells.filter(F.col("__crank") <= n_probe)
        .select("query_id", "centroid_id")
        .join(
            assigned.select("neighbor_id", "centroid_id"), "centroid_id"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_candidates"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# oracle CTE builders (parameterized twin of wave67's fixed-probe chain)
# ---------------------------------------------------------------------------
def _base_ctes() -> str:
    from .llm_data import _DOT_VC, _NORM_V, _NORM_C

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
    assigned AS MATERIALIZED (
      SELECT node AS neighbor_id, centroid_id FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM fc v, cents c) WHERE r = 1
    ),
    qcells AS MATERIALIZED (
      SELECT node AS query_id, centroid_id, r FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM (SELECT query_id AS vec_id, embedding FROM qs) v, cents c
      ) WHERE r <= {_P_HI}
    )"""


def _cand_cte(tag: str, n_probe: int) -> str:
    return f""",
    cand{tag} AS MATERIALIZED (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a
      JOIN (SELECT query_id, centroid_id FROM qcells WHERE r <= {n_probe}) p
        ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    ncand{tag} AS (
      SELECT q.query_id,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_candidates
      FROM qs q LEFT JOIN (
        SELECT query_id, count(*) AS n FROM cand{tag} GROUP BY 1
      ) c ON c.query_id = q.query_id
    )"""


def _ranked_cte(tag: str) -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    cos_ab = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    return f""",
    ranked{tag} AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM (
        SELECT c.query_id, c.neighbor_id, {cos_ab} AS cos_sim
        FROM cand{tag} c
        JOIN embeddings b ON b.vec_id = c.query_id
        JOIN embeddings a ON a.vec_id = c.neighbor_id
      )
    )"""


def _starved_cte() -> str:
    return f""",
    flags AS MATERIALIZED (
      SELECT query_id, n_candidates,
             n_candidates < {_MIN_CAND} AS starved
      FROM ncandb
    )"""


def _d214_oracle() -> str:
    return f"""{_base_ctes()}{_cand_cte('b', _P_BASE)}{
        _cand_cte('h', _P_HI)}{_ranked_cte('b')}{_ranked_cte('h')}{
        _starved_cte()}
    SELECT f.query_id, f.n_candidates AS n_candidates_base,
           CAST(CASE WHEN f.starved THEN {_P_HI} ELSE {_P_BASE} END
                AS BIGINT) AS probe_level,
           CAST(r.rank AS BIGINT) AS rank, r.neighbor_id, r.cos_sim
    FROM flags f
    JOIN (
      SELECT rb.* FROM rankedb rb
      JOIN flags fb ON fb.query_id = rb.query_id AND NOT fb.starved
      UNION ALL
      SELECT rh.* FROM rankedh rh
      JOIN flags fh ON fh.query_id = rh.query_id AND fh.starved
    ) r ON r.query_id = f.query_id
    WHERE r.rank <= {_K}
    ORDER BY f.query_id, r.rank
    """


@spark_query("d214_ann_adaptive_probe_search", _d214_oracle())
def d214_ann_adaptive_probe_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered IVF search with per-query probe adaptation: probe
    {base} cells, count the admitted candidates (a free aggregate of
    the cell equi-join), and re-probe {hi} cells ONLY for queries the
    filter starved below the floor. The starved set is a column
    predicate — healthy queries never pay the wider scan, starved ones
    recover recall (d215 quantifies both). At 100 TB this is the
    serve-time answer to unpredictable filter selectivity."""
    # Round-11 plan: corpus assignment and query probe cells come from
    # ONE checkpointed substrate; the count pass and both probe levels
    # filter/score the same two tables instead of re-assigning corpus
    # and queries per level (guide §2.4 — was 3 assignment passes).
    assigned, qcells = _substrate(spark, sf_dir)
    queries = _queries(spark, sf_dir)
    flags = (
        _ncand_from(assigned, qcells, queries, _P_BASE)
        .withColumn("starved", F.col("n_candidates") < _MIN_CAND)
        .localCheckpoint()
    )
    starved_ids = flags.filter(F.col("starved")).select("query_id")
    base_top = similarity.ivf_topk_precomputed(
        assigned,
        qcells.filter(F.col("__crank") <= _P_BASE)
        .join(starved_ids, "query_id", "left_anti")
        .drop("__crank"),
        k=_K,
    ).withColumn("probe_level", F.lit(_P_BASE).cast("long"))
    hi_top = similarity.ivf_topk_precomputed(
        assigned,
        qcells.join(starved_ids, "query_id", "left_semi")
        .drop("__crank"),
        k=_K,
    ).withColumn("probe_level", F.lit(_P_HI).cast("long"))
    return (
        base_top.unionByName(hi_top)
        .join(
            flags.select(
                "query_id",
                F.col("n_candidates").alias("n_candidates_base"),
            ),
            "query_id",
        )
        .select(
            "query_id",
            "n_candidates_base",
            "probe_level",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "cos_sim",
        )
        .orderBy("query_id", "rank")
    )


def _d215_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    cos_ab = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    policy_hits = """
    hits{tag} AS (
      SELECT e.query_id, CAST(count(t.neighbor_id) AS BIGINT) AS n_hits
      FROM exact_top e
      LEFT JOIN top{tag} t
        ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
      GROUP BY 1
    )"""
    return f"""{_base_ctes()}{_cand_cte('b', _P_BASE)}{
        _cand_cte('h', _P_HI)}{_ranked_cte('b')}{_ranked_cte('h')}{
        _starved_cte()},
    topb AS (SELECT query_id, neighbor_id FROM rankedb WHERE rank <= {_K}),
    toph AS (SELECT query_id, neighbor_id FROM rankedh WHERE rank <= {_K}),
    topa AS (
      SELECT t.query_id, t.neighbor_id FROM topb t
      JOIN flags f ON f.query_id = t.query_id AND NOT f.starved
      UNION ALL
      SELECT t.query_id, t.neighbor_id FROM toph t
      JOIN flags f ON f.query_id = t.query_id AND f.starved
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
    {policy_hits.format(tag='b')},
    {policy_hits.format(tag='h')},
    {policy_hits.format(tag='a')},
    costa AS (
      SELECT CAST(sum(CASE WHEN f.starved THEN h.n_candidates
                           ELSE b.n_candidates END) AS BIGINT) AS cost,
             CAST(sum(CASE WHEN f.starved THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_escalated
      FROM flags f
      JOIN ncandb b ON b.query_id = f.query_id
      JOIN ncandh h ON h.query_id = f.query_id
    ),
    nq AS (SELECT count(*) AS n FROM qs)
    SELECT policy, n_escalated, total_candidates,
           CAST(round(CAST(sum_hits AS DOUBLE) / ({_K} * n), 6)
                AS DOUBLE) AS mean_recall
    FROM (
      SELECT 'p1_fixed_base' AS policy, CAST(0 AS BIGINT) AS n_escalated,
             (SELECT CAST(sum(n_candidates) AS BIGINT) FROM ncandb)
               AS total_candidates,
             (SELECT sum(n_hits) FROM hitsb) AS sum_hits, n
      FROM nq
      UNION ALL
      SELECT 'p2_fixed_hi', 0,
             (SELECT CAST(sum(n_candidates) AS BIGINT) FROM ncandh),
             (SELECT sum(n_hits) FROM hitsh), n
      FROM nq
      UNION ALL
      SELECT 'p3_adaptive', (SELECT n_escalated FROM costa),
             (SELECT cost FROM costa),
             (SELECT sum(n_hits) FROM hitsa), n
      FROM nq
    )
    ORDER BY policy
    """


@spark_query("d215_ann_adaptive_probe_sweep", _d215_oracle())
def d215_ann_adaptive_probe_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The adaptation audit (d153's sweep shape, filtered flavor):
    fixed-base, fixed-hi, and adaptive policies side by side — mean
    recall@k against the exact filtered ground truth, total candidates
    scanned (the cost), and the escalation count. The row that
    justifies adaptation: recall tracks fixed-hi while cost tracks
    fixed-base + the starved queries' increment."""
    # Round-11 plan: one checkpointed substrate feeds the counting
    # passes, both fixed-probe rankings, AND the exact leg (the
    # assignment table carries every filtered vector, so the brute
    # scan reuses it instead of re-filtering the corpus) — guide §2.4.
    assigned, qcells = _substrate(spark, sf_dir)
    queries = _queries(spark, sf_dir)
    nq = queries.count()

    flags = (
        _ncand_from(assigned, qcells, queries, _P_BASE)
        .withColumn("starved", F.col("n_candidates") < _MIN_CAND)
        .localCheckpoint()
    )
    ncand_h = _ncand_from(assigned, qcells, queries, _P_HI)
    top_b = similarity.ivf_topk_precomputed(
        assigned,
        qcells.filter(F.col("__crank") <= _P_BASE).drop("__crank"),
        k=_K,
    ).select("query_id", "neighbor_id")
    top_h = similarity.ivf_topk_precomputed(
        assigned, qcells.drop("__crank"), k=_K
    ).select("query_id", "neighbor_id")
    starved = flags.filter(F.col("starved")).select("query_id")
    top_a = top_b.join(starved, "query_id", "left_anti").unionByName(
        top_h.join(starved, "query_id", "left_semi")
    )
    exact = similarity.brute_force_topk(
        assigned.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("__cv").alias("embedding"),
        ),
        queries,
        k=_K,
    ).select("query_id", "neighbor_id")

    def sum_hits(top: DataFrame) -> DataFrame:
        return (
            exact.join(
                top.withColumn("hit", F.lit(1)),
                ["query_id", "neighbor_id"],
                "left",
            )
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("h"))
        )

    cost_b = flags.agg(
        F.sum("n_candidates").cast("long").alias("c")
    )
    cost_h = ncand_h.agg(
        F.sum("n_candidates").cast("long").alias("c")
    )
    cost_a = (
        flags.join(
            ncand_h.select(
                "query_id", F.col("n_candidates").alias("nh")
            ),
            "query_id",
        )
        .agg(
            F.sum(
                F.when(F.col("starved"), F.col("nh")).otherwise(
                    F.col("n_candidates")
                )
            )
            .cast("long")
            .alias("c"),
            F.sum(F.when(F.col("starved"), 1).otherwise(0))
            .cast("long")
            .alias("esc"),
        )
    )

    def row(policy: str, esc_df, cost_df, top) -> DataFrame:
        esc = (
            esc_df
            if isinstance(esc_df, DataFrame)
            else cost_df.select(F.lit(0).cast("long").alias("esc"))
        )
        return (
            cost_df.select(F.col("c").alias("total_candidates"))
            .crossJoin(F.broadcast(esc.select("esc")))
            .crossJoin(F.broadcast(sum_hits(top)))
            .select(
                F.lit(policy).alias("policy"),
                F.col("esc").alias("n_escalated"),
                "total_candidates",
                F.round(
                    F.col("h").cast("double") / F.lit(float(_K * nq)), 6
                ).alias("mean_recall"),
            )
        )

    return (
        row("p1_fixed_base", None, cost_b, top_b)
        .unionByName(row("p2_fixed_hi", None, cost_h, top_h))
        .unionByName(row("p3_adaptive", cost_a, cost_a, top_a))
        .orderBy("policy")
    )
