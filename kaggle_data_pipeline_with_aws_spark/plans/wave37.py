"""Round-7 wave 37 — dedup/ANN *quality-control* operators (each one
audits a proven pipeline stage from a new angle):

- d150 — near-dup cluster cohesion: per connected near-dup cluster
  (d31's min-label semantics over the substrate LSH pairs), size,
  internal pair count, pair density, and mean/min similarity — the QA
  table that separates tight duplicate families (merge confidently)
  from loose chains glued by borderline pairs (review before dropping
  members; the transitive-closure failure mode of every LSH dedup).
- d151 — embedding dimension-truncation recall: Matryoshka-style audit
  of serving top-k from a 16-dim prefix of the 64-dim embeddings —
  overlap@k between the full-dim and truncated-dim exact top-5 per
  query. The measurement behind "can we cut the vector index to a
  prefix and re-rank?".
- d152 — MinHash banding tuning curve: for every (bands, rows) split
  of the 32 signature hashes, the expected LSH candidate probability
  1-(1-s^r)^b evaluated on the OBSERVED exact-Jaccard near-dup pairs —
  expected recall and expected missed pairs per configuration, the
  table that justifies (or re-tunes) d07's 8×4 production banding.

Reference scope: beyond-reference LLM-data-curation surface (the
reference pipeline has no dedup/ANN subsystem to audit).

Determinism: every float reduction follows the d95/q61/d145 rules —
similarity means are exact integer sums of 1e-9-quantized values;
powers are explicit squaring chains (s^r and (1-s^r)^b with r, b
powers of two), never pow(), whose libm implementations differ
between engines by 1 ulp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity, text_substrate
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d150 — near-dup cluster cohesion.
# ---------------------------------------------------------------------------
def _d150_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    # pairs is referenced THREE times downstream (nodes, edges, pc):
    # MATERIALIZED, or DuckDB re-inlines the whole MinHash pipeline per
    # reference — the d40/d149 oracle failure shape (spill-disk grind
    # at 10×; d142 survives with two references, three does not)
    cte = _minhash_pairs_cte(0.5).replace("WITH toks", "WITH RECURSIVE toks", 1)
    cte = cte.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
    return f"""{cte},
    nodes AS (
      SELECT doc_id_1 AS node FROM pairs
      UNION SELECT doc_id_2 FROM pairs
    ),
    edges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
    sizes AS (
      SELECT component AS cluster_id, count(*) AS n_docs
      FROM comp GROUP BY 1
    ),
    pc AS (
      SELECT c.component AS cluster_id, p.est_jaccard
      FROM pairs p JOIN comp c ON p.doc_id_1 = c.node
    )
    SELECT s.cluster_id AS cluster_id,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(CAST(count(*) AS DOUBLE)
                 / (CAST(s.n_docs * (s.n_docs - 1) AS DOUBLE) / 2.0), 6)
             AS DOUBLE) AS density,
           CAST(round(CAST(sum(CAST(floor(est_jaccard * 1000000000.0 + 0.5)
                    AS HUGEINT)) AS DOUBLE) / count(*) / 1000000000.0, 6)
             AS DOUBLE) AS mean_sim,
           CAST(round(min(est_jaccard), 6) AS DOUBLE) AS min_sim
    FROM pc JOIN sizes s USING (cluster_id)
    GROUP BY s.cluster_id, s.n_docs
    ORDER BY 1
    """


@spark_query("d150_cluster_cohesion", _d150_oracle())
def d150_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster QA: connected components over the
    substrate-served LSH pairs (d31's min-label semantics), then per
    cluster its size, internal pair count, pair density
    (n_pairs / C(n_docs, 2)) and mean/min pair similarity. Density
    near 1 with high min_sim = a genuine duplicate family (safe to
    keep one representative); low density or low min_sim = a
    transitive chain glued by borderline pairs — the case where
    keep-one-per-cluster silently drops non-duplicates. The component
    fixpoint runs over the near-dup-sized edge list only; every
    aggregate here is cluster-count-sized. The mean is an exact
    integer sum of 1e-9-quantized sims (order-free, the d145 rule)."""
    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    # components served from the materialized (dataset, threshold)
    # artifact — shared with d142 (the standalone fixpoint stays the
    # semantic twin, equivalence pinned in tests/test_text_substrate.py)
    comp = text_substrate.lsh_components(spark, sf_dir, threshold=0.5)
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_docs"))
    pc = pairs.join(
        comp.withColumnRenamed("node", "doc_id_1"), "doc_id_1"
    ).select(F.col("component").alias("cluster_id"), "est_jaccard")
    q9 = F.lit(1e9)
    agg = pc.groupBy("cluster_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            F.floor(F.col("est_jaccard") * q9 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("__qsum"),
        F.min("est_jaccard").alias("__min"),
    )
    return (
        agg.join(
            sizes.select(
                F.col("component").alias("cluster_id"), "n_docs"
            ),
            "cluster_id",
        )
        .select(
            "cluster_id",
            "n_docs",
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double")
                / ((F.col("n_docs") * (F.col("n_docs") - 1)).cast("double") / 2.0),
                6,
            ).alias("density"),
            F.round(F.col("__qsum") / F.col("n_pairs") / q9, 6).alias(
                "mean_sim"
            ),
            F.round("__min", 6).alias("min_sim"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# d151 — embedding dimension-truncation recall (Matryoshka audit).
# ---------------------------------------------------------------------------
_TRUNC_DIMS = 16
_TRUNC_K = 5


def _d151_oracle() -> str:
    from .llm_data import _DOT_SQL, _NORM_SQL

    dot_tr = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {_TRUNC_DIMS + 1}), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    norm_tr = (
        "sqrt(list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, {_TRUNC_DIMS + 1}), "
        "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
        "(acc, x) -> acc + x))"
    )
    return f"""
    WITH scored_full AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    topf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM scored_full
      ) WHERE r <= {_TRUNC_K}
    ),
    scored_tr AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({dot_tr} / ({norm_tr.format(v='a')} * {norm_tr.format(v='b')}), 6)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    topt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM scored_tr
      ) WHERE r <= {_TRUNC_K}
    ),
    ov AS (
      SELECT f.query_id, count(*) AS n_common
      FROM topf f JOIN topt t
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      GROUP BY 1
    ),
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10)
    SELECT q.query_id,
           CAST(coalesce(ov.n_common, 0) AS BIGINT) AS n_common,
           CAST(round(CAST(coalesce(ov.n_common, 0) AS DOUBLE)
                 / {_TRUNC_K}.0, 6) AS DOUBLE) AS recall_at_k
    FROM q LEFT JOIN ov ON q.query_id = ov.query_id
    ORDER BY 1
    """


@spark_query("d151_dim_truncation_recall", _d151_oracle())
def d151_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style serving audit: per query, the overlap between
    the exact top-{_TRUNC_K} under the FULL 64-dim cosine and under the
    first-{_TRUNC_DIMS}-dim prefix cosine — the recall you keep if the
    ANN index stores only the prefix (4× smaller, 4× less bandwidth)
    and re-ranks with full vectors. Both sides are the proven d09
    brute-force shape (query set broadcast, corpus streamed, never
    shuffled); the truncated side scans a 4×-narrower vector column.
    recall_at_k = n_common / k is an exact small-integer ratio."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    full = similarity.brute_force_topk(embs, queries, k=_TRUNC_K)
    trunc_embs = embs.select(
        "vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding")
    )
    trunc = similarity.brute_force_topk(
        trunc_embs, trunc_embs.filter(F.col("vec_id") < 10), k=_TRUNC_K
    )
    ov = (
        full.select("query_id", "neighbor_id")
        .join(trunc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("__n"))
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    return (
        qids.join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce(F.col("__n"), F.lit(0)).cast("double")
                / float(_TRUNC_K),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# d152 — MinHash banding tuning curve over observed near-dup pairs.
# ---------------------------------------------------------------------------
# (bands, rows) splits of the 32 signature hashes; all powers of two so
# s^r and (1-s^r)^b are explicit squaring chains (never pow())
_BAND_CONFIGS = ((32, 1), (16, 2), (8, 4), (4, 8), (2, 16))
_TUNE_T = 0.7  # observed-pair threshold: d126's proven loosest pass


def _sq_sql(expr: str, k: int) -> str:
    """expr ** (2**k) as an explicit squaring chain (deterministic in
    every engine; pow() is libm-dependent)."""
    for _ in range(k):
        expr = f"({expr} * {expr})"
    return expr


def _sq_col(col: Column, k: int) -> Column:
    for _ in range(k):
        col = col * col
    return col


def _p_candidate_sql(b: int, r: int) -> str:
    s_pow_r = _sq_sql("s", r.bit_length() - 1)
    miss = _sq_sql(f"(1.0 - {s_pow_r})", b.bit_length() - 1)
    return f"(1.0 - {miss})"


def _p_candidate_col(s: Column, b: int, r: int) -> Column:
    s_pow_r = _sq_col(s, r.bit_length() - 1)
    miss = _sq_col(F.lit(1.0) - s_pow_r, b.bit_length() - 1)
    return F.lit(1.0) - miss


def _d152_oracle() -> str:
    legs = []
    for b, r in _BAND_CONFIGS:
        p = _p_candidate_sql(b, r)
        legs.append(
            f"""
      SELECT {b} AS bands, {r} AS rows_per_band,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(round(CAST(sum(CAST(floor({p} * 1000000000.0 + 0.5)
                      AS HUGEINT)) AS DOUBLE) / count(*) / 1000000000.0, 6)
               AS DOUBLE) AS mean_p,
             CAST(round(min({p}), 6) AS DOUBLE) AS min_p,
             CAST(round(CAST(count(*) AS DOUBLE)
                   - CAST(sum(CAST(floor({p} * 1000000000.0 + 0.5)
                      AS HUGEINT)) AS DOUBLE) / 1000000000.0, 6)
               AS DOUBLE) AS expected_missed
      FROM sims"""
        )
    union = " UNION ALL ".join(legs)
    return f"""
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
    sims AS MATERIALIZED (
      -- referenced once per config leg below: MATERIALIZED, or the
      -- quadratic posting join re-inlines five times (the d40 rule)
      SELECT round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6) AS s
      FROM inter
      JOIN cnt ca ON inter.doc_id_1 = ca.doc_id
      JOIN cnt cb ON inter.doc_id_2 = cb.doc_id
      WHERE round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6)
            >= {_TUNE_T}
    )
    SELECT * FROM ({union})
    ORDER BY bands DESC
    """


@spark_query("d152_lsh_band_tuning", _d152_oracle())
def d152_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index tuning from MEASURED similarities: for each
    (bands, rows) split of the 32 MinHash functions, the expected
    candidate probability 1-(1-s^r)^b evaluated at every observed
    exact-Jaccard near-dup pair (threshold {_TUNE_T} — d126's proven
    loosest PPJoin pass, served from the ranked-shingle substrate),
    rolled up to expected recall (mean_p), worst pair (min_p), and
    expected missed pairs per configuration. This is the table that
    justifies d07's 8×4 production banding — or re-tunes it when the
    corpus's similarity mass moves. One pair-list scan computes all
    five configurations (the configs are exploded in the projection,
    not re-scanned); powers are explicit squaring chains and the mean
    is an exact integer sum of 1e-9-quantized values, so every number
    is engine-exact."""
    pairs = text_substrate.jaccard_pairs(spark, sf_dir, threshold=_TUNE_T)
    cfg_structs = [
        F.struct(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            _p_candidate_col(F.col("jaccard"), b, r).alias("p"),
        )
        for b, r in _BAND_CONFIGS
    ]
    exploded = pairs.select(
        F.explode(F.array(*cfg_structs)).alias("e")
    ).select("e.bands", "e.rows_per_band", "e.p")
    q9 = F.lit(1e9)
    return (
        exploded.groupBy("bands", "rows_per_band")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.floor(F.col("p") * q9 + F.lit(0.5)).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("__qsum"),
            F.min("p").alias("__minp"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_pairs",
            F.round(F.col("__qsum") / F.col("n_pairs") / q9, 6).alias(
                "mean_p"
            ),
            F.round("__minp", 6).alias("min_p"),
            F.round(
                F.col("n_pairs").cast("double") - F.col("__qsum") / q9, 6
            ).alias("expected_missed"),
        )
        .orderBy(F.col("bands").desc())
    )
