"""Round-4 eighth wave:

- q103 — view→purchase conversion-latency percentiles (two-event
  funnel timing in one conditional pass).
- d113 — dataset-card summary: the one-row corpus fact sheet
  (doc/source/lang counts, token totals, vocabulary, exact-dup rate).
- d114 — tail-token exposure: how many documents touch
  low-document-frequency vocabulary (the min-df filter's blast
  radius), per source.
- d115 — cross-source duplication matrix: which sources near-dup
  against which (d07's pair list rolled up by source pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import epoch_micros
from ..operators import text_substrate
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q103 — conversion-latency percentiles.
# ---------------------------------------------------------------------------
@spark_query(
    "q103_conversion_latency",
    """
    WITH u AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'view') AS fv,
             min(ts) FILTER (event_type = 'purchase') AS fp
      FROM events GROUP BY 1
    ),
    lat AS (
      SELECT CAST(epoch_us(fp) - epoch_us(fv) AS DOUBLE) / 1000000.0
               AS latency_s
      FROM u WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(CAST(quantile_cont(latency_s, 0.5) AS DOUBLE), 6) AS p50_s,
           round(CAST(quantile_cont(latency_s, 0.9) AS DOUBLE), 6) AS p90_s,
           round(CAST(max(latency_s) AS DOUBLE), 6) AS max_s
    FROM lat
    """,
)
def q103_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from a user's FIRST view to their FIRST purchase,
    summarized as exact percentiles. Both firsts come from ONE
    conditional-min pass over the events (a single user-keyed
    shuffle, partial-agg'd); the latency table is user-sized, so the
    exact percentile over it is cheap at any corpus scale. Timestamps
    difference through the shared `epoch_micros` helper (the NTZ-safe
    path that fixed s04/s05)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "fp"
        ),
    )
    lat = (
        u.filter(
            F.col("fv").isNotNull()
            & F.col("fp").isNotNull()
            & (F.col("fp") >= F.col("fv"))
        )
        .select(
            (
                (epoch_micros(F.col("fp")) - epoch_micros(F.col("fv"))).cast(
                    "double"
                )
                / 1_000_000.0
            ).alias("latency_s")
        )
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias("p90_s"),
        F.round(F.max("latency_s"), 6).alias("max_s"),
    )


# ---------------------------------------------------------------------------
# d113 — dataset-card summary (one-row corpus fact sheet).
# ---------------------------------------------------------------------------
@spark_query(
    "d113_dataset_card",
    """
    WITH base AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             count(DISTINCT lang) AS n_langs,
             sum(len(string_split(text, ' '))) AS total_tokens,
             count(DISTINCT text) AS n_distinct_texts
      FROM documents
    ),
    voc AS (
      SELECT count(DISTINCT w) AS vocab_size FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      )
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS DOUBLE)
             AS mean_doc_tokens,
           CAST(vocab_size AS BIGINT) AS vocab_size,
           CAST(n_docs - n_distinct_texts AS BIGINT) AS exact_dup_docs,
           CAST(round(CAST(n_docs - n_distinct_texts AS DOUBLE) / n_docs, 6)
                AS DOUBLE) AS exact_dup_rate
    FROM base, voc
    """,
)
def d113_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row: corpus size, source/lang breadth,
    token mass, vocabulary, and exact-duplication rate — the summary
    a curation run publishes next to its output shards. Three
    minimal-shape passes (row-local aggregate; distinct-text count on
    the md5, never the text; token-explode distinct for vocabulary),
    each reduced to a one-row frame before a broadcast crossJoin
    stitches the card together — nothing wide ever joins."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    )
    voc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.countDistinct("w").alias("vocab_size"))
    )
    return base.crossJoin(F.broadcast(voc)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("mean_doc_tokens"),
        "vocab_size",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("exact_dup_docs"),
        F.round(
            (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
            / F.col("n_docs"),
            6,
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# d114 — tail-token exposure per source (min-df filter blast radius).
# ---------------------------------------------------------------------------
@spark_query(
    "d114_tail_token_exposure",
    """
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    dw AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    dfreq AS (SELECT w, count(*) AS df FROM dw GROUP BY 1),
    rare AS (
      SELECT w FROM dfreq, n WHERE df < 0.1 * n.n_docs
    ),
    hit AS (
      SELECT DISTINCT dw.doc_id FROM dw JOIN rare ON dw.w = rare.w
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exposed,
           CAST(round(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1.0
                          ELSE 0.0 END) / count(*), 6) AS DOUBLE)
             AS exposed_rate
    FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
    GROUP BY 1 ORDER BY 1
    """,
)
def d114_tail_token_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """If a min-document-frequency vocabulary cut (df < 10% of docs —
    relative, so the rule scales with the corpus) were applied, how
    many documents per source would be touched? The df table comes
    from the distinct (doc, word) explode (one shuffle, map-side
    distinct); the rare-word set is vocabulary-sized and broadcasts
    into the hit semi-join; the per-source report is a left-join flag
    aggregate. The audit you run BEFORE destructive vocab filtering."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    n = docs.agg(F.count("*").alias("n_docs"))
    dfreq = dw.groupBy("w").agg(F.count("*").alias("df"))
    rare = (
        dfreq.crossJoin(F.broadcast(n))
        .filter(F.col("df") < 0.1 * F.col("n_docs"))
        .select("w")
    )
    hit = (
        dw.join(F.broadcast(rare), "w")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        docs.select("doc_id", "source")
        .join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).alias("n_exposed"),
            F.round(
                F.sum(F.when(F.col("__hit"), 1.0).otherwise(0.0))
                / F.count("*"),
                6,
            ).alias("exposed_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# d115 — cross-source duplication matrix.
# ---------------------------------------------------------------------------
def _d115_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    return (
        _minhash_pairs_cte(0.5)
        + """
    , meta AS (SELECT doc_id, source FROM documents)
    SELECT least(a.source, b.source) AS source_a,
           greatest(a.source, b.source) AS source_b,
           count(*) AS n_pairs,
           CAST(round(avg(p.est_jaccard), 6) AS DOUBLE) AS mean_est_jaccard
    FROM pairs p
    JOIN meta a ON p.doc_id_1 = a.doc_id
    JOIN meta b ON p.doc_id_2 = b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """
    )


@spark_query("d115_cross_source_dup_matrix", _d115_oracle())
def d115_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which sources duplicate against which: d07's MinHash-LSH pair
    list (exact banding, threshold 0.5) rolled up by unordered source
    pair — the provenance heat-map that tells a curation run whether
    dup mass is intra-source boilerplate or cross-source scraping.
    The pair list is near-dup-sized; source lookup is a broadcast
    join; the matrix is at most |sources|² rows."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    meta = F.broadcast(docs.select("doc_id", "source"))
    j = (
        pairs.join(
            meta.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("source").alias("sa"),
            ),
            "doc_id_1",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("source").alias("sb"),
            ),
            "doc_id_2",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "est_jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("est_jaccard"), 6).alias("mean_est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
