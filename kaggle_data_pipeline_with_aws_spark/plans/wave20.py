"""Round-4 eleventh wave:

- q106 — dynamic pivot: value list discovered from the data in a
  cheap first pass, then the same one-Expand pivot as q83.
- d119 — feature correlation matrix: pairwise Pearson over the
  quality-feature battery in ONE fused aggregate pass.
- d120 — PSI drift monitor: population-stability index of the doc
  length distribution between the corpus's first and second half
  (by doc_id), the standard production drift alarm.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q106 — dynamic pivot (discover values, then one Expand).
# ---------------------------------------------------------------------------
@spark_query(
    "q106_dynamic_pivot",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q106_dynamic_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with the value list DISCOVERED from the data: a first
    pass collects the distinct pivot values (type-sized — the only
    collect, bounded by the column's cardinality), which are then
    passed EXPLICITLY to `pivot()` — without the list Spark runs the
    same discovery scan implicitly with a 10k-value safety cap; doing
    it explicitly makes the two-phase cost visible and the output
    schema deterministic (values sorted). The pivot itself is q83's
    one-Expand single-aggregate shape. The oracle fixes the same
    columns statically (sorted event types)."""
    ev = load_table(spark, sf_dir, "events")
    values = sorted(
        r["event_type"]
        for r in ev.select("event_type").distinct().collect()
    )
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", values)
        .agg(F.count(F.lit(1)))  # pivot aggregates reject the '*' form
        .na.fill(0, values)
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# d119 — quality-feature correlation matrix (one fused pass).
# ---------------------------------------------------------------------------
_FEATURES = ["n_tokens", "mean_len", "ttr", "stop_ratio"]


def _d119_oracle() -> str:
    feats = """
      SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             list_avg(list_transform(string_split(text, ' '),
                      w -> len(w))) AS mean_len,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr,
             CAST(len(list_filter(string_split(text, ' '),
                      w -> list_contains(['the','a','an','and','or','is',
                                          'of','to','in'], w))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    """
    cells = []
    for a, b in combinations(_FEATURES, 2):
        cells.append(
            f"SELECT '{a}' AS feat_a, '{b}' AS feat_b,"
            f" CAST(round(corr({a}, {b}), 6) AS DOUBLE) AS pearson FROM f"
        )
    return (
        "WITH f AS (" + feats + ")\nSELECT * FROM ("
        + " UNION ALL ".join(cells)
        + ") ORDER BY feat_a, feat_b"
    )


@spark_query("d119_feature_corr_matrix", _d119_oracle())
def d119_feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson over the quality-feature battery — the
    redundancy audit run before features feed a classifier (d111) or
    a composite score. All six correlations come from ONE pass: corr
    is partial-aggregable (co-moment sufficient statistics), so the
    fused aggregate ships 6×5 accumulators per task, never the rows
    twice. Long-form output (feat_a, feat_b, pearson) keeps the
    schema stable as features are added."""
    tok = text.tokens("text")
    n = F.size(tok)
    feats = load_table(spark, sf_dir, "documents").select(
        n.cast("double").alias("n_tokens"),
        (
            F.aggregate(tok, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
            / n
        ).alias("mean_len"),
        (F.size(F.array_distinct(tok)).cast("double") / n).alias("ttr"),
        (
            F.size(
                F.filter(tok, lambda w: w.isin(*text.STOPWORDS_EN))
            ).cast("double")
            / n
        ).alias("stop_ratio"),
    )
    agg = feats.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"{a}|{b}")
            for a, b in combinations(_FEATURES, 2)
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.col(f"{a}|{b}").alias("pearson"),
            )
            for a, b in combinations(_FEATURES, 2)
        ]
    )
    return (
        agg.select(F.explode(pairs).alias("p"))
        .select("p.feat_a", "p.feat_b", "p.pearson")
        .orderBy("feat_a", "feat_b")
    )


# ---------------------------------------------------------------------------
# d120 — PSI drift monitor (first vs second corpus half).
# ---------------------------------------------------------------------------
_PSI_BUCKETS = 10
_PSI_WIDTH = 50  # n_chars bucket width


@spark_query(
    "d120_psi_drift",
    f"""
    WITH half AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS mid
                  FROM documents),
    b AS (
      SELECT CASE WHEN doc_id <= mid THEN 'ref' ELSE 'cur' END AS half,
             least(CAST(n_chars // {_PSI_WIDTH} AS BIGINT),
                   {_PSI_BUCKETS - 1}) AS bucket
      FROM documents, half
    ),
    c AS (SELECT half, bucket, count(*) AS n FROM b GROUP BY 1, 2),
    t AS (SELECT half, sum(n) AS total FROM c GROUP BY 1),
    grid AS (
      SELECT h.half, g.bucket FROM (SELECT DISTINCT half FROM c) h,
           (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket) g
    ),
    p AS (
      SELECT grid.half, grid.bucket,
             (coalesce(c.n, 0) + 0.5) / (t.total + {_PSI_BUCKETS} * 0.5)
               AS share
      FROM grid
      LEFT JOIN c ON grid.half = c.half AND grid.bucket = c.bucket
      JOIN t ON grid.half = t.half
    )
    SELECT r.bucket,
           CAST(round(r.share, 6) AS DOUBLE) AS ref_share,
           CAST(round(q.share, 6) AS DOUBLE) AS cur_share,
           CAST(round((q.share - r.share) * ln(q.share / r.share), 6)
                AS DOUBLE) AS psi_term
    FROM p r JOIN p q ON r.bucket = q.bucket
    WHERE r.half = 'ref' AND q.half = 'cur'
    ORDER BY r.bucket
    """,
)
def d120_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of the document-length distribution
    between the corpus's first and second half (doc_id as the time
    axis) — the production drift alarm (PSI > 0.2 = investigate).
    Laplace-smoothed shares (+0.5 per bucket) so empty buckets never
    produce a log of zero; the per-bucket terms are published (their
    sum is the PSI) so the alarm can say WHERE the distribution
    moved. Two bucket-sized aggregates and a 10-row join — rows are
    read once; compare d52's token-level KL (model drift) vs this
    signal-level index (pipeline drift)."""
    docs = load_table(spark, sf_dir, "documents")
    half = docs.agg(
        F.floor(F.max("doc_id") / 2).cast("long").alias("mid")
    )
    b = docs.crossJoin(F.broadcast(half)).select(
        F.when(F.col("doc_id") <= F.col("mid"), "ref")
        .otherwise("cur")
        .alias("half"),
        F.least(
            F.floor(F.col("n_chars") / _PSI_WIDTH).cast("long"),
            F.lit(_PSI_BUCKETS - 1),
        ).alias("bucket"),
    )
    c = b.groupBy("half", "bucket").agg(F.count("*").alias("n"))
    t = c.groupBy("half").agg(F.sum("n").alias("total"))
    grid = (
        c.select("half")
        .distinct()
        .crossJoin(
            spark.range(_PSI_BUCKETS).select(F.col("id").alias("bucket"))
        )
    )
    p = (
        grid.join(c, ["half", "bucket"], "left")
        .join(t, "half")
        .select(
            "half",
            "bucket",
            (
                (F.coalesce(F.col("n"), F.lit(0)) + 0.5)
                / (F.col("total") + _PSI_BUCKETS * 0.5)
            ).alias("share"),
        )
    )
    r = p.filter(F.col("half") == "ref").select(
        "bucket", F.col("share").alias("rs")
    )
    q = p.filter(F.col("half") == "cur").select(
        "bucket", F.col("share").alias("qs")
    )
    return (
        r.join(q, "bucket")
        .select(
            "bucket",
            F.round("rs", 6).alias("ref_share"),
            F.round("qs", 6).alias("cur_share"),
            F.round(
                (F.col("qs") - F.col("rs"))
                * F.log(F.col("qs") / F.col("rs")),
                6,
            ).alias("psi_term"),
        )
        .orderBy("bucket")
    )
