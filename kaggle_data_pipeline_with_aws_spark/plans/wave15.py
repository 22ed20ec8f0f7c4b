"""Round-4 sixth wave:

- q99 — bucketed empirical CDF per event type (the scale-safe
  cume_dist: bucket counts + a bucket-level running sum, never a
  row-level global window).
- q100 — ROLLUP hierarchy subtotals (region → nation revenue), the
  third grouping-set face next to q41's CUBE and q80's explicit
  GROUPING SETS.
- d107 — product-quantization codes: 4 subspaces × 4 centroids,
  deterministic seeded codebook, per-vector code + reconstruction
  error — the memory-bound ANN compression layer under d39's int8
  scheme.
- d108 — incremental batch-vs-corpus dedup decision: exact-hash and
  MinHash-LSH screening of ONE incoming source against the standing
  corpus (the ingest-time face of d07/d24).
- d109 — hapax-legomenon ratio per source (lexical-richness QA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .llm_data import _minhash_pairs_cte
from .registry import spark_query


# ---------------------------------------------------------------------------
# q99 — bucketed empirical CDF (scale-safe cume_dist).
# ---------------------------------------------------------------------------
@spark_query(
    "q99_value_ecdf",
    """
    WITH c AS (
      SELECT event_type, round(value, 1) AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS total FROM c GROUP BY 1)
    SELECT c.event_type, CAST(c.bucket AS DOUBLE) AS bucket,
           CAST(c.n AS BIGINT) AS n,
           CAST(round(CAST(sum(c.n) OVER (PARTITION BY c.event_type
                  ORDER BY c.bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                / t.total, 6) AS DOUBLE) AS ecdf
    FROM c JOIN t ON c.event_type = t.event_type
    """,
)
def q99_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of `value` per event type at 0.1 granularity.
    The naive ``cume_dist() OVER (PARTITION BY type ORDER BY value)``
    sorts every ROW of a partition through one task; here rows
    collapse to (type, bucket) counts FIRST (one shuffle, map-side
    partial), and the running sum is a window over the bucket-level
    table — bounded at (value range ÷ 0.1) rows per type regardless
    of corpus size. Same pre-aggregate-then-window shape as q76's
    running distinct."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.round("value", 1).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    t = c.groupBy("event_type").agg(F.sum("n").alias("total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            F.col("bucket").cast("double").alias("bucket"),
            "n",
            F.round(
                F.sum("n").over(w).cast("double") / F.col("total"), 6
            ).alias("ecdf"),
        )
    )


# ---------------------------------------------------------------------------
# q100 — ROLLUP hierarchy subtotals (region → nation).
# ---------------------------------------------------------------------------
@spark_query(
    "q100_region_nation_rollup",
    """
    SELECT r_name, n_name,
           CAST(grouping(r_name)*2 + grouping(n_name) AS BIGINT) AS gid,
           count(*) AS n_lines,
           -- EXACT decimal money sum (the q38 rule): the raw double
           -- sum drifted the displayed cent at 10x magnitudes.
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q100_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at nation, region-subtotal, and grand-total levels in
    ONE pass — ROLLUP respects the hierarchy (no nation-without-
    region margin, unlike q41's CUBE), so the Expand emits 3 grouping
    sets, not 4. The supplier→nation→region chain is broadcast; the
    fact shuffles once on the expanded grouping key. ``grouping()``
    bits disambiguate rolled-up margins from genuine NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        li.join(dims, F.col("l_suppkey") == F.col("s_suppkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_lines"),
            # exact decimal money sum (q38 rule): order-independent,
            # engine-identical at any scale, still partial-aggregable
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(18,2)")
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .select("r_name", "n_name", "gid", "n_lines", "revenue")
    )


# ---------------------------------------------------------------------------
# d107 — product-quantization codes (4 subspaces × 16 dims, 4
# centroids each, seeded from the first four vectors).
# ---------------------------------------------------------------------------
_N_SUB = 4
_SUB_DIM = 16
_N_CENT = 4


def _pq_oracle() -> str:
    dist = (
        "round(list_reduce(list_prepend(0.0, "
        "list_transform(range(1 + s.s*{sd}, {sd1} + s.s*{sd}), "
        "i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))"
        " * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)))), "
        "(acc, x) -> acc + x), 6)"
    ).format(sd=_SUB_DIM, sd1=_SUB_DIM + 1)
    code_cols = ", ".join(
        f"CAST(max(CASE WHEN s = {k} THEN cid END) AS INT) AS code_{k}"
        for k in range(_N_SUB)
    )
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      WHERE vec_id < {_N_CENT}
    ),
    sub AS (SELECT unnest(range(0, {_N_SUB})) AS s),
    scored AS (
      SELECT v.vec_id, s.s, c.cid, {dist} AS dist
      FROM embeddings v, sub s, cents c
    ),
    best AS (
      SELECT vec_id, s, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY dist ASC, cid ASC) AS r
        FROM scored
      ) WHERE r = 1
    )
    SELECT vec_id, {code_cols},
           CAST(round(sum(dist), 6) AS DOUBLE) AS recon_err
    FROM best GROUP BY vec_id
    """


@spark_query("d107_pq_codes", _pq_oracle())
def d107_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each vector compresses to 4 sub-codes
    (one per 16-dim subspace, nearest of 4 seeded centroids by
    squared L2, rounded-before-argmin so the assignment is
    engine-stable) — 64 floats → 4 small ints, the standard
    memory-bound ANN layer (complementing d39's scalar int8 codes
    and d72's Lloyd assignment). The 4×4 codebook (the first four
    vectors' sub-slices — deterministic, like d72's seeding)
    broadcasts; distances are row-local `zip_with` folds over array
    slices; the per-(vector, subspace) argmin is a min-of-struct
    aggregate — no window over data-sized partitions, no shuffle of
    the embedding table at all (the grouping key is vec_id, already
    unique per row, so Catalyst keeps it a local aggregate)."""
    embs = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        embs.filter(F.col("vec_id") < _N_CENT).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
        )
    )
    crossed = embs.select("vec_id", "embedding").crossJoin(cents)
    sub_structs = []
    for s in range(_N_SUB):
        d = F.round(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("embedding"), s * _SUB_DIM + 1, _SUB_DIM),
                    F.slice(F.col("cemb"), s * _SUB_DIM + 1, _SUB_DIM),
                    lambda a, b: (a.cast("double") - b.cast("double"))
                    * (a.cast("double") - b.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        sub_structs.append(
            F.struct(F.lit(s).alias("s"), d.alias("dist"), F.col("cid"))
        )
    scored = crossed.select(
        "vec_id", F.explode(F.array(*sub_structs)).alias("e")
    ).select("vec_id", "e.s", "e.dist", "e.cid")
    best = scored.groupBy("vec_id", "s").agg(
        F.min(F.struct("dist", "cid")).alias("b")
    )
    return best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == k, F.col("b.cid")))
            .cast("int")
            .alias(f"code_{k}")
            for k in range(_N_SUB)
        ],
        F.round(F.sum("b.dist"), 6).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# d108 — incremental batch-vs-corpus dedup decision (ingest face).
# ---------------------------------------------------------------------------
_BATCH_SOURCE = "src1"


@spark_query(
    "d108_incremental_dedup",
    _minhash_pairs_cte(0.5)
    + f"""
    , meta AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    batch AS (SELECT * FROM meta WHERE source = '{_BATCH_SOURCE}'),
    corpus AS (SELECT * FROM meta WHERE source <> '{_BATCH_SOURCE}'),
    exact AS (
      SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c ON b.h = c.h
    ),
    near AS (
      SELECT b.doc_id, min(other) AS near_dup_of FROM (
        SELECT doc_id_1 AS d, doc_id_2 AS other FROM pairs
        UNION ALL
        SELECT doc_id_2 AS d, doc_id_1 AS other FROM pairs
      ) p
      JOIN batch b ON p.d = b.doc_id
      JOIN corpus c ON p.other = c.doc_id
      GROUP BY 1
    )
    SELECT b.doc_id,
           e.doc_id IS NOT NULL AS is_exact_dup,
           n.near_dup_of,
           CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
                WHEN n.near_dup_of IS NOT NULL THEN 'drop_near'
                ELSE 'keep' END AS decision
    FROM batch b
    LEFT JOIN exact e ON b.doc_id = e.doc_id
    LEFT JOIN near n ON b.doc_id = n.doc_id
    ORDER BY b.doc_id
    """,
)
def d108_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-time dedup gate: screen ONE incoming source
    (src1 plays the new batch) against the standing corpus — exact
    content-hash hit ⇒ drop_exact; MinHash-LSH near-dup hit
    (est_jaccard ≥ 0.5, d07's exact banding) ⇒ drop_near, recording
    the smallest matching corpus doc; else keep. The registered face
    computes bands for batch+corpus in one pass (the oracle needs
    both anyway); the production deployment stores the corpus band
    table once and probes only the batch against it — the band join
    IS that probe, batch-side sized. Reference parity: this is the
    ledger anti-join (J2/T2) upgraded from filename-exact to
    content-near equality."""
    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "source", F.md5("text").alias("h"))
    batch = meta.filter(F.col("source") == _BATCH_SOURCE)
    corpus = meta.filter(F.col("source") != _BATCH_SOURCE)
    exact = (
        batch.alias("b")
        .join(corpus.alias("c"), F.col("b.h") == F.col("c.h"), "left_semi")
        .select(F.col("doc_id"), F.lit(True).alias("is_exact_dup"))
    )
    from ..operators import text_substrate

    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    sym = pairs.select(
        F.col("doc_id_1").alias("d"), F.col("doc_id_2").alias("other")
    ).unionByName(
        pairs.select(
            F.col("doc_id_2").alias("d"), F.col("doc_id_1").alias("other")
        )
    )
    near = (
        sym.join(
            batch.select(F.col("doc_id").alias("d")), "d"
        )
        .join(
            corpus.select(F.col("doc_id").alias("other")), "other"
        )
        .groupBy(F.col("d").alias("doc_id"))
        .agg(F.min("other").alias("near_dup_of"))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("is_exact_dup"), F.lit(False)).alias(
                "is_exact_dup"
            ),
            "near_dup_of",
            F.when(F.col("is_exact_dup"), "drop_exact")
            .when(F.col("near_dup_of").isNotNull(), "drop_near")
            .otherwise("keep")
            .alias("decision"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d109 — hapax-legomenon ratio per source.
# ---------------------------------------------------------------------------
@spark_query(
    "d109_hapax_ratio",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT source, w, count(*) AS n FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_count,
           CAST(round(sum(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END) / count(*),
                      6) AS DOUBLE) AS hapax_ratio
    FROM tf GROUP BY source ORDER BY source
    """,
)
def d109_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: the share of each source's
    vocabulary that occurs exactly once (hapax legomena). High ratio
    = diverse/long-tail text; near-zero = template or looped output.
    One explode into a (source, word) count (map-side partial), then
    a source-sized aggregate over the vocabulary table — the same
    two-level shape as d77's stopword discovery, measuring the
    opposite tail."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                "hapax_count"
            ),
            F.round(
                F.sum(F.when(F.col("n") == 1, 1.0).otherwise(0.0))
                / F.count("*"),
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )
