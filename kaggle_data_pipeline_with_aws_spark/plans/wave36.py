"""Round-6 fourth wave (post-window additions; prove in round 7):

- d148 — join-key skew report: the pre-flight a shuffle planner runs
  before joining at scale — per candidate join key, cardinality, the
  hottest key's row count and share, and the max/mean skew ratio that
  decides between a plain hash join, AQE skew handling, and explicit
  salting (dedup.salted_block_pairs is this repo's cure; this is the
  diagnosis).
- d149 — contrastive pair mining: training triplets from the dedup
  substrate — each near-dup pair (MinHash-LSH, est_jaccard ≥ 0.5)
  anchors a positive, and a deterministic hash draws the negative,
  re-rolled (bounded, 4 attempts) while it collides with the anchor,
  the positive, or ANY near-dup of the anchor. Deterministic,
  engine-reproducible, no RNG state.

Reference scope: beyond-reference LLM-data/warehouse surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text_substrate
from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d148 — join-key skew report over the fact table's candidate keys.
# ---------------------------------------------------------------------------
_SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def _d148_oracle() -> str:
    legs = []
    for k in _SKEW_KEYS:
        legs.append(
            f"""
    SELECT '{k}' AS join_key,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           CAST(round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS DOUBLE)
             AS max_key_share,
           CAST(round(CAST(max(c) AS DOUBLE)
                 / (CAST(sum(c) AS DOUBLE) / count(*)), 6) AS DOUBLE)
             AS skew_ratio
    FROM (SELECT {k}, count(*) AS c FROM lineitem GROUP BY 1)"""
        )
    return " UNION ALL ".join(legs) + "\n    ORDER BY join_key"


@spark_query("d148_join_key_skew", _d148_oracle())
def d148_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis per candidate join key: one count-by-key pass per
    key (map-side partial aggregation, so the shuffle carries one row
    per distinct key), then a one-row reduction — n_rows, distinct
    keys, the hottest key's rows and share, and skew_ratio = hottest /
    mean. A ratio near 1 is uniform; a large ratio is the straggler
    warning that demands salting or AQE skew-join before the real
    join runs. The report costs |keys| shuffle rows per column — the
    cheapest insurance a 100 TB join can buy.

    ONE fact scan for all candidate keys (round-6 verdict #4): the
    keys are stacked into (join_key, key_value) rows in the projection
    — the stack sits inside whole-stage codegen, so the fact table is
    read once, not once per key — and a single
    groupBy(join_key, key_value) with map-side partial aggregation
    shuffles one row per distinct (key name, value). The oracle keeps
    its per-key UNION ALL form; values are identical."""
    li = load_table(spark, sf_dir, "lineitem")
    stack_args = ", ".join(f"'{k}', {k}" for k in _SKEW_KEYS)
    stacked = li.selectExpr(
        f"stack({len(_SKEW_KEYS)}, {stack_args}) AS (join_key, key_value)"
    )
    counts = stacked.groupBy("join_key", "key_value").agg(
        F.count("*").alias("c")
    )
    return (
        counts.groupBy("join_key")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_key_rows"),
            F.round(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("max_key_share"),
            F.round(
                F.max("c").cast("double")
                / (F.sum("c").cast("double") / F.count("*")),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy("join_key")
    )


# ---------------------------------------------------------------------------
# d149 — contrastive pair mining from the dedup substrate.
# ---------------------------------------------------------------------------
_NEG_ATTEMPTS = 4


def _d149_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    draw = lambda a: portable_hash_sql(  # noqa: E731
        f"CAST(doc_id_1 AS VARCHAR) || '#' || CAST(doc_id_2 AS VARCHAR)"
        f" || '#neg{a}'"
    )
    attempt_cols = ",\n             ".join(
        f"{draw(a)} % n.n AS cand{a}" for a in range(_NEG_ATTEMPTS)
    )
    # Rejection stated as LEFT JOINs against the MATERIALIZED pair-sized
    # sym table — NEVER correlated EXISTS: each EXISTS would re-inline
    # the whole unmaterialized MinHash pipeline per attempt (the d40
    # oracle failure shape; the EXISTS form exhausted the spill disk at
    # 10×, where this form verifies in seconds).
    rejects = "\n      ".join(
        f"LEFT JOIN sym s{a} ON s{a}.d = c.doc_id_1"
        f" AND s{a}.other = c.cand{a}"
        for a in range(_NEG_ATTEMPTS)
    )
    pick = "CASE "
    for a in range(_NEG_ATTEMPTS):
        pick += (
            f"WHEN c.cand{a} <> c.doc_id_1 AND c.cand{a} <> c.doc_id_2 "
            f"AND s{a}.other IS NULL THEN c.cand{a} "
        )
    pick += "ELSE NULL END"
    cte = _minhash_pairs_cte(0.5).replace(
        "pairs AS (", "pairs AS MATERIALIZED (", 1
    )
    return f"""{cte},
    sym AS MATERIALIZED (
      SELECT doc_id_1 AS d, doc_id_2 AS other FROM pairs
      UNION ALL SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    n AS (SELECT count(*) AS n FROM documents),
    cands AS (
      SELECT doc_id_1, doc_id_2, est_jaccard,
             {attempt_cols}
      FROM pairs, n
    ),
    picked AS (
      SELECT c.doc_id_1 AS anchor_id, c.doc_id_2 AS pos_id,
             c.est_jaccard AS pos_sim,
             {pick} AS neg_id
      FROM cands c
      {rejects}
    )
    SELECT anchor_id, pos_id, CAST(pos_sim AS DOUBLE) AS pos_sim,
           CAST(neg_id AS BIGINT) AS neg_id
    FROM picked WHERE neg_id IS NOT NULL
    ORDER BY anchor_id, pos_id
    """


@spark_query("d149_contrastive_pairs", _d149_oracle())
def d149_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training triplets (anchor, positive, negative) mined from the
    substrate near-dup pairs: positives are LSH pairs at d07's
    threshold; the negative is a portable-hash draw over the doc-id
    space, re-rolled through 4 deterministic attempts while it hits
    the anchor, the positive, or any near-dup of the anchor (the
    near-dup set is pair-sized, so the rejection join is a broadcast;
    rows whose 4 draws all collide are dropped — deterministic on both
    engines, vanishingly rare outside toy corpora). No RNG state: the
    same corpus always yields the same triplets, which is what makes
    the mining reproducible across retries and engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.broadcast(docs.agg(F.count("*").alias("n")))
    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    sym = pairs.select(
        F.col("doc_id_1").alias("d"), F.col("doc_id_2").alias("other")
    ).unionByName(
        pairs.select(
            F.col("doc_id_2").alias("d"), F.col("doc_id_1").alias("other")
        )
    )
    cands = pairs.crossJoin(n_docs)
    for a in range(_NEG_ATTEMPTS):
        seed = F.concat_ws(
            "#",
            F.col("doc_id_1").cast("string"),
            F.col("doc_id_2").cast("string"),
            F.lit(f"neg{a}"),
        )
        cands = cands.withColumn(
            f"cand{a}", F.pmod(portable_hash(seed), F.col("n"))
        )
    # reject candidates that are near-dups of the anchor: one
    # broadcast left join per attempt against the pair-sized sym table
    for a in range(_NEG_ATTEMPTS):
        hit = F.broadcast(
            sym.select(
                F.col("d").alias("doc_id_1"),
                F.col("other").alias(f"cand{a}"),
                F.lit(True).alias(f"__dup{a}"),
            )
        )
        cands = cands.join(hit, ["doc_id_1", f"cand{a}"], "left")
    # first-match: the earliest attempt that collides with nothing
    pick_expr = F.coalesce(
        *[
            F.when(
                (F.col(f"cand{a}") != F.col("doc_id_1"))
                & (F.col(f"cand{a}") != F.col("doc_id_2"))
                & F.col(f"__dup{a}").isNull(),
                F.col(f"cand{a}"),
            )
            for a in range(_NEG_ATTEMPTS)
        ]
    )
    return (
        cands.select(
            F.col("doc_id_1").alias("anchor_id"),
            F.col("doc_id_2").alias("pos_id"),
            F.col("est_jaccard").alias("pos_sim"),
            pick_expr.cast("long").alias("neg_id"),
        )
        .filter(F.col("neg_id").isNotNull())
        .orderBy("anchor_id", "pos_id")
    )
