"""Round-8 wave 49 — information-theoretic corpus stats + diversified
retrieval:

- d182 — conditional (bigram) entropy rate per source: H(Y|X) next
  to the unigram entropy H(Y) and the redundancy 1 - H(Y|X)/H(Y).
  The sequence-aware twin of d32's character entropy: template/looped
  text shows low entropy RATE long before its unigram distribution
  looks degenerate.
- d183 — term burstiness (variance-to-mean ratio of per-document
  counts, zeros included) for each source's highest-df terms: the
  classic IR statistic separating topical terms (bursty, VMR >> 1)
  from function words (Poisson-ish, VMR ~ 1).
- d184 — MMR diversified top-k retrieval (Carbonell & Goldstein):
  greedy argmax of lambda*rel - (1-lambda)*max-sim-to-selected over a
  relevance-top-8 candidate pool — the "don't return 5 near-identical
  neighbors" serving layer on top of d09's exact top-k, with the
  greedy rounds unrolled so the whole selection is value-oracled.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.text import tokens
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d182 — conditional bigram entropy rate per source.
# ---------------------------------------------------------------------------
@spark_query(
    "d182_conditional_entropy",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
    un AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             round(log2(CAST(sum(c) AS DOUBLE))
                   - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE), 6) AS h_unigram
      FROM uc GROUP BY source
    ),
    toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT source,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS prev
      FROM toks WHERE len(t) >= 2
    ),
    bc AS (
      SELECT source, bigram, prev, count(*) AS bn
      FROM bg GROUP BY 1, 2, 3
    ),
    pc AS (
      SELECT source, prev, CAST(sum(bn) AS BIGINT) AS pn
      FROM bc GROUP BY 1, 2
    ),
    hc AS (
      SELECT bc.source,
             CAST(sum(bn) AS BIGINT) AS n_bigrams,
             round(-sum(CAST(bn AS DOUBLE)
                        * log2(CAST(bn AS DOUBLE) / pn))
                   / CAST(sum(bn) AS DOUBLE), 6) AS h_cond
      FROM bc JOIN pc ON bc.source = pc.source AND bc.prev = pc.prev
      GROUP BY bc.source
    )
    SELECT source, n_tokens, h_unigram, n_bigrams, h_cond,
           round(1.0 - h_cond / h_unigram, 6) AS redundancy
    FROM un JOIN hc USING (source) ORDER BY source
    """,
)
def d182_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: unigram entropy H(Y), conditional bigram entropy
    H(Y|X) (both in bits/token, maximum-likelihood estimates), and
    the redundancy 1 - H(Y|X)/H(Y). Both entropies are aggregates
    over the vocabulary-bounded count tables — the corpus-sized token
    stream collapses in the first map-side partial and is never
    re-touched; the bigram model join (d44's shape) runs on
    vocab²-bounded rows. H(Y) uses the log2(N) - sum(c*log2 c)/N
    form so both engines evaluate the identical expression tree."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("w"))
    uc = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    un = uc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.log2(F.sum("c").cast("double"))
            - F.sum(
                F.col("c").cast("double")
                * F.log2(F.col("c").cast("double"))
            )
            / F.sum("c").cast("double"),
            6,
        ).alias("h_unigram"),
    )
    t = d.select("source", tokens("text").alias("t")).filter(
        F.array_size("t") >= 2
    )
    bg = t.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.array_size("t") - 1),
                F.slice("t", 2, F.array_size("t") - 1),
                lambda a, b: F.struct(
                    F.concat_ws(" ", a, b).alias("bigram"), a.alias("prev")
                ),
            )
        ).alias("z"),
    ).select("source", "z.bigram", "z.prev")
    bc = bg.groupBy("source", "bigram", "prev").agg(
        F.count("*").alias("bn")
    )
    pc = bc.groupBy("source", "prev").agg(F.sum("bn").alias("pn"))
    hc = (
        bc.join(pc, ["source", "prev"])
        .groupBy("source")
        .agg(
            F.sum("bn").alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.col("bn").cast("double")
                    * F.log2(F.col("bn").cast("double") / F.col("pn"))
                )
                / F.sum("bn").cast("double"),
                6,
            ).alias("h_cond"),
        )
    )
    return (
        un.join(hc, "source")
        .select(
            "source",
            "n_tokens",
            "h_unigram",
            "n_bigrams",
            "h_cond",
            F.round(
                1.0 - F.col("h_cond") / F.col("h_unigram"), 6
            ).alias("redundancy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# d183 — term burstiness (variance-to-mean of per-doc counts).
# ---------------------------------------------------------------------------
_BURST_TOPK = 10


@spark_query(
    "d183_term_burstiness",
    f"""
    WITH tok AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    dc AS (
      SELECT source, doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2, 3
    ),
    st AS (
      SELECT source, w,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS total_n,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM dc GROUP BY 1, 2
    ),
    nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
    ranked AS (
      SELECT source, w, df, total_n, sum_c2,
             row_number() OVER (PARTITION BY source
                 ORDER BY df DESC, w) AS rn
      FROM st
    )
    SELECT r.source,
           CAST(rn AS BIGINT) AS term_rank,
           w AS term, df, total_n,
           round(((sum_c2 - CAST(total_n AS DOUBLE) * total_n / n_docs)
                  / (n_docs - 1))
                 / (CAST(total_n AS DOUBLE) / n_docs), 6) AS burstiness
    FROM ranked r JOIN nd ON r.source = nd.source
    WHERE rn <= {_BURST_TOPK}
    ORDER BY r.source, rn
    """,
)
def d183_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each source's 10 highest-document-frequency
    terms: document frequency, total occurrences, and the burstiness
    index — the sample variance-to-mean ratio of per-document counts
    with absent docs counted as zero (computed from the exact integer
    sums sum(c), sum(c²) and the doc count, so both engines divide
    identical integers). Topical terms clump (VMR >> 1); function
    words approach Poisson (VMR ~ 1). The per-source top-k is a
    WindowGroupLimit over the vocab-bounded stat table — k rows per
    partition ship, never a source's vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    dc = (
        d.select("source", "doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("source", "doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    st = dc.groupBy("source", "w").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("total_n"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    nd = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source").orderBy(F.col("df").desc(), "w")
    mean = F.col("total_n").cast("double") / F.col("n_docs")
    var = (
        F.col("sum_c2")
        - F.col("total_n").cast("double") * F.col("total_n") / F.col("n_docs")
    ) / (F.col("n_docs") - 1)
    return (
        st.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BURST_TOPK)
        .join(nd, "source")
        .select(
            "source",
            F.col("rn").cast("long").alias("term_rank"),
            F.col("w").alias("term"),
            "df",
            "total_n",
            F.round(var / mean, 6).alias("burstiness"),
        )
        .orderBy("source", "term_rank")
    )


# ---------------------------------------------------------------------------
# d184 — MMR diversified top-k retrieval.
# ---------------------------------------------------------------------------
# lambda = 0.7 carried as the INTEGER pair (7, 3) over 1e6-quantized
# cosines: score_e7 = 7*rel6 - 3*max(sim6) is exact BIGINT arithmetic
# in both engines — the first cut used 0.7*rel - 0.3*sim doubles and
# round(...,6), and one score landed on a decimal rounding boundary
# where Spark (HALF_UP on the shortest repr) and DuckDB disagree in
# the 6th decimal (0.26004 vs 0.260039). Quantized integers remove
# rounding from the contract entirely (the d152 discipline).
_MMR_LAMBDA_E1 = 7
_MMR_ONE_MINUS_E1 = 3
_MMR_POOL = 8
_MMR_K = 4
_MMR_NQ = 3

_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


def _d184_oracle() -> str:
    """Greedy MMR unrolled: sel1 = argmax lambda*rel; round r picks
    argmax lambda*rel - (1-lambda)*max(sim to selected) among pool
    members not yet selected (ties by neighbor id)."""
    lam7, om7 = _MMR_LAMBDA_E1, _MMR_ONE_MINUS_E1
    cos = f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)"
    parts = [
        f"""WITH scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             {cos} AS rel
      FROM embeddings a, embeddings b
      WHERE b.vec_id < {_MMR_NQ} AND a.vec_id != b.vec_id
    ),
    pool AS (
      SELECT query_id, neighbor_id, rel,
             CAST(round(rel * 1000000.0) AS BIGINT) AS rel6
      FROM (
        SELECT query_id, neighbor_id, rel,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_MMR_POOL}
    ),
    sims AS (
      SELECT p1.query_id, p1.neighbor_id AS n1, p2.neighbor_id AS n2,
             CAST(round({cos} * 1000000.0) AS BIGINT) AS sim6
      FROM pool p1
      JOIN pool p2 ON p1.query_id = p2.query_id
                  AND p1.neighbor_id != p2.neighbor_id
      JOIN embeddings a ON a.vec_id = p1.neighbor_id
      JOIN embeddings b ON b.vec_id = p2.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, CAST(1 AS BIGINT) AS pick_rank, neighbor_id,
             {lam7} * rel6 AS score_e7
      FROM (
        SELECT query_id, neighbor_id, rel6,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY rel6 DESC, neighbor_id) AS rn
        FROM pool
      ) WHERE rn = 1
    )"""
    ]
    for r in range(2, _MMR_K + 1):
        prev = f"sel{r - 1}"
        parts.append(
            f""",
    c{r} AS (
      SELECT p.query_id, p.neighbor_id,
             {lam7} * p.rel6 - {om7} * max(s.sim6) AS score_e7
      FROM pool p
      JOIN sims s ON s.query_id = p.query_id AND s.n1 = p.neighbor_id
      JOIN {prev} q ON q.query_id = s.query_id
                   AND q.neighbor_id = s.n2
      WHERE NOT EXISTS (
        SELECT 1 FROM {prev} z
        WHERE z.query_id = p.query_id
          AND z.neighbor_id = p.neighbor_id)
      GROUP BY p.query_id, p.neighbor_id, p.rel6
    ),
    r{r} AS (
      SELECT query_id, CAST({r} AS BIGINT) AS pick_rank, neighbor_id,
             score_e7
      FROM (
        SELECT query_id, neighbor_id, score_e7,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score_e7 DESC, neighbor_id) AS rn
        FROM c{r}
      ) WHERE rn = 1
    ),
    sel{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM r{r})"""
        )
    parts.append(
        f"""
    SELECT query_id, pick_rank, neighbor_id,
           CAST(score_e7 AS BIGINT) AS mmr_score_e7,
           CAST(score_e7 AS DOUBLE) / 10000000.0 AS mmr_score
    FROM sel{_MMR_K}
    ORDER BY query_id, pick_rank
    """
    )
    return "".join(parts)


@spark_query("d184_mmr_topk", _d184_oracle())
def d184_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-4 per query: greedy
    argmax of 0.7*rel - 0.3*max(sim to already-selected) over the
    exact relevance-top-8 pool — the serving layer that stops a
    near-dup-heavy index returning 5 copies of one document. Shape:
    ONE corpus pass builds the pool (d09's brute-force kernel, k rows
    per query survive); the pool and its ≤ pool² pairwise cosines are
    localCheckpointed (queries x 64 rows), and each greedy round is a
    join over those bounded tables — corpus size never re-enters. At
    100 TB you'd swap the pool builder for d15's IVF serving path;
    the MMR rounds are unchanged."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < _MMR_NQ)
    pool = (
        similarity.brute_force_topk(embs, queries, k=_MMR_POOL)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos_sim") * 1000000.0)
            .cast("long")
            .alias("rel6"),
        )
        .localCheckpoint()
    )
    ev = embs.select("vec_id", "embedding")
    p1 = pool.select("query_id", F.col("neighbor_id").alias("n1"))
    p2 = pool.select("query_id", F.col("neighbor_id").alias("n2"))
    sims = (
        p1.join(p2, "query_id")
        .filter(F.col("n1") != F.col("n2"))
        .join(ev.select(F.col("vec_id").alias("n1"),
                        F.col("embedding").alias("__v1")), "n1")
        .join(ev.select(F.col("vec_id").alias("n2"),
                        F.col("embedding").alias("__v2")), "n2")
        .select(
            "query_id", "n1", "n2",
            F.round(
                F.round(
                    similarity._cosine(F.col("__v1"), F.col("__v2"), True),
                    6,
                )
                * 1000000.0
            )
            .cast("long")
            .alias("sim6"),
        )
        .localCheckpoint()
    )
    lam7, om7 = _MMR_LAMBDA_E1, _MMR_ONE_MINUS_E1
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rel6").desc(), "neighbor_id"
    )
    sel = (
        pool.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("long").alias("pick_rank"),
            "neighbor_id",
            (F.lit(lam7) * F.col("rel6")).alias("score_e7"),
        )
    )
    for r in range(2, _MMR_K + 1):
        # candidates = pool members not yet selected; their max sim to
        # the selected set comes straight off the sims table
        cand = (
            pool.join(sel.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "left_anti")
            .join(
                sims.withColumnRenamed("n1", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .join(
                sel.select(
                    "query_id", F.col("neighbor_id").alias("n2")
                ),
                ["query_id", "n2"],
            )
            .groupBy("query_id", "neighbor_id", "rel6")
            .agg(F.max("sim6").alias("ms6"))
            .select(
                "query_id",
                "neighbor_id",
                (F.lit(lam7) * F.col("rel6") - F.lit(om7) * F.col("ms6"))
                .alias("score_e7"),
            )
        )
        wr = Window.partitionBy("query_id").orderBy(
            F.col("score_e7").desc(), "neighbor_id"
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("long").alias("pick_rank"),
                "neighbor_id",
                "score_e7",
            )
        )
        sel = sel.unionByName(pick)
    return sel.select(
        "query_id",
        "pick_rank",
        "neighbor_id",
        F.col("score_e7").alias("mmr_score_e7"),
        (F.col("score_e7").cast("double") / 10000000.0).alias("mmr_score"),
    ).orderBy("query_id", "pick_rank")
