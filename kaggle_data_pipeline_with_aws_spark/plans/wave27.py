"""Round-4 eighteenth wave:

- d127 — shard checksum manifest: one content hash per (source,
  shard) over ordered per-doc hashes — what a training loader
  verifies before trusting a shard.
- d128 — temperature-scaled mixture weights: the multilingual/
  multi-source sampling staple (share^α renormalized) at three
  temperatures, with the post-sampling shares it would produce.
- q111 — decile lift table: score every document with the d111
  classifier's step-2 weights, decile by prefix-sum rank, and report
  per-decile positive rate and cumulative lift — the model-eval
  chart as a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text
from ..operators.renumber import contiguous_row_number
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d127 — shard checksum manifest.
# ---------------------------------------------------------------------------
_MANIFEST_SHARDS = 8


@spark_query(
    "d127_shard_manifest",
    f"""
    WITH d AS (
      SELECT source, CAST(doc_id % {_MANIFEST_SHARDS} AS INT) AS shard,
             doc_id, md5(text) AS h, n_chars
      FROM documents
    )
    SELECT source, shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(h, '' ORDER BY doc_id)) AS manifest_md5
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def d127_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a loader checks before trusting a shard: per
    (source, doc_id-mod shard) — doc count, byte mass, and an ORDER-
    DEFINED rollup hash (md5 over per-doc md5s concatenated in doc_id
    order, the q97 ordered-listagg idiom — the hashes concatenate,
    never the documents). Reruns of a deterministic pipeline must
    reproduce this table bit-for-bit; any upstream nondeterminism
    shows up as a manifest diff naming the exact shard. One scan, one
    shard-keyed shuffle of 16-byte hashes."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.col("doc_id") % _MANIFEST_SHARDS).cast("int").alias("shard"),
        "doc_id",
        F.md5("text").alias("h"),
        "n_chars",
    )
    packed = F.sort_array(
        F.collect_list(F.struct(F.col("doc_id"), F.col("h")))
    )
    return (
        d.groupBy("source", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.array_join(
                    F.transform(packed, lambda s: s.getField("h")), ""
                )
            ).alias("manifest_md5"),
        )
        .orderBy("source", "shard")
    )


# ---------------------------------------------------------------------------
# d128 — temperature-scaled mixture weights.
# ---------------------------------------------------------------------------
_TEMPS = (0.3, 0.5, 0.7)


def _d128_oracle() -> str:
    cols = []
    for a in _TEMPS:
        tag = str(a).replace(".", "")
        cols.append(
            f"CAST(round(pow(share, {a}) / sum(pow(share, {a})) OVER (), 6)"
            f" AS DOUBLE) AS w_t{tag}"
        )
    return f"""
    WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    sh AS (
      SELECT source, n,
             CAST(n AS DOUBLE) / sum(n) OVER () AS share
      FROM s
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(round(share, 6) AS DOUBLE) AS share,
           {", ".join(cols)}
    FROM sh ORDER BY source
    """


@spark_query("d128_temperature_weights", _d128_oracle())
def d128_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling shares (share^α, renormalized) at
    α = 0.3/0.5/0.7 — the standard up-weighting of tail sources in
    multilingual/multi-source training mixes (α = 1 keeps natural
    proportions, α → 0 approaches uniform). Everything after the
    per-source count is arithmetic over the 20-row share table; the
    renormalizing sums are windows over that same tiny table. The
    output is d60's rebalancer input, parameterized."""
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    w_all = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(w_all)
    sh = s.select("source", "n", share.alias("share"))
    cols = [
        F.round(
            F.pow("share", F.lit(a)) / F.sum(F.pow("share", F.lit(a))).over(w_all),
            6,
        ).alias(f"w_t{str(a).replace('.', '')}")
        for a in _TEMPS
    ]
    return sh.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round("share", 6).alias("share"),
        *cols,
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q111 — decile lift table for the d111 classifier.
# ---------------------------------------------------------------------------
def _q111_oracle() -> str:
    # same feature battery as wave16's _FEATS_SQL, plus doc_id (the
    # rank tiebreak — feature collisions are possible, so a unique,
    # label-free key makes the decile cut a total order)
    return f"""
    WITH f AS (
      SELECT doc_id, 1.0 AS x0,
             len(string_split(text, ' ')) / 100.0 AS x1,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS x2,
             CASE WHEN list_contains(string_split(text, ' '), 'the')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ),
    g1 AS (
      SELECT round(avg(x0 * (0.5 - y)), 6) AS gw0,
             round(avg(x1 * (0.5 - y)), 6) AS gw1,
             round(avg(x2 * (0.5 - y)), 6) AS gw2
      FROM f
    ),
    w1 AS (SELECT -gw0 AS w0, -gw1 AS w1, -gw2 AS w2 FROM g1),
    s2 AS (
      SELECT f.x0, f.x1, f.x2, f.y,
             1.0 / (1.0 + exp(-round(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2, 6)))
               AS p
      FROM f, w1 w
    ),
    g2 AS (
      SELECT round(avg(x0 * (p - y)), 6) AS gw0,
             round(avg(x1 * (p - y)), 6) AS gw1,
             round(avg(x2 * (p - y)), 6) AS gw2
      FROM s2
    ),
    w2 AS (
      SELECT round(w.w0 - g.gw0, 6) AS w0, round(w.w1 - g.gw1, 6) AS w1,
             round(w.w2 - g.gw2, 6) AS w2
      FROM w1 w, g2 g
    ),
    scored AS (
      SELECT round(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2, 6) AS z, f.y,
             row_number() OVER (ORDER BY
               round(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2, 6) DESC,
               f.doc_id ASC) AS rk,
             count(*) OVER () AS total,
             avg(f.y) OVER () AS base_rate
      FROM f, w2 w
    )
    SELECT CAST(ceil(rk * 10 / CAST(total AS DOUBLE)) AS BIGINT) AS decile,
           count(*) AS n,
           CAST(round(avg(y), 6) AS DOUBLE) AS pos_rate,
           CAST(round(avg(y) / max(base_rate), 6) AS DOUBLE) AS lift
    FROM scored GROUP BY 1 ORDER BY 1
    """


@spark_query("q111_decile_lift", _q111_oracle())
def q111_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-eval lift chart: score every document with the d111
    classifier's (deterministic, rounded) step-2 weights, cut the
    population into score deciles, and report positive rate and lift
    vs the base rate per decile — decile 1 ≫ 1.0 and decile 10 ≪ 1.0
    means the cheap classifier actually ranks. Weights re-derive via
    the same two sufficient-statistics aggregates as d111 (broadcast
    back); the decile cut is ceil(rank·10/n) over... a rank — which at
    corpus scale must NOT be a global window, so it runs through
    `contiguous_row_number`'s prefix-sum (d82's exact decile
    discipline). The oracle states the same rank in window form; the
    results agree because rank-then-ceil is engine-independent given
    the identical (rounded) sort key + unique doc_id tiebreak."""
    tok = text.tokens("text")
    n = F.size(tok)
    f = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        (n / 100.0).alias("x1"),
        (F.size(F.array_distinct(tok)).cast("double") / n).alias("x2"),
        F.when(F.array_contains(tok, "the"), 1.0).otherwise(0.0).alias("y"),
    ).localCheckpoint(eager=True)
    g1 = f.agg(
        *[
            F.round(F.avg(F.col(c) * (F.lit(0.5) - F.col("y"))), 6).alias(
                f"g{i}"
            )
            for i, c in enumerate(["x0", "x1", "x2"])
        ]
    )
    w1 = g1.select(*[(-F.col(f"g{i}")).alias(f"w{i}") for i in range(3)])
    z1 = F.round(
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2"),
        6,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z1))
    g2 = (
        f.crossJoin(F.broadcast(w1))
        .select("x0", "x1", "x2", "y", p.alias("p"))
        .agg(
            *[
                F.round(F.avg(F.col(c) * (F.col("p") - F.col("y"))), 6).alias(
                    f"g{i}"
                )
                for i, c in enumerate(["x0", "x1", "x2"])
            ]
        )
    )
    w2 = (
        w1.crossJoin(F.broadcast(g2))
        .select(
            *[
                F.round(F.col(f"w{i}") - F.col(f"g{i}"), 6).alias(f"w{i}")
                for i in range(3)
            ]
        )
    )
    scored = f.crossJoin(F.broadcast(w2)).select(
        F.round(
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2"),
            6,
        ).alias("z"),
        "doc_id",
        "y",
    )
    ranked = contiguous_row_number(
        scored,
        [(-F.col("z")).alias("__nz"), F.col("doc_id")],
        out_col="rk",
    )
    tot = scored.agg(
        F.count("*").alias("total"), F.avg("y").alias("base_rate")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.ceil(F.col("rk") * 10 / F.col("total").cast("double"))
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("y"), 6).alias("pos_rate"),
            F.round(F.avg("y") / F.max("base_rate"), 6).alias("lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# d129 — dedup impact report (corpus stats before vs after keep-first).
# ---------------------------------------------------------------------------
@spark_query(
    "d129_dedup_impact",
    """
    WITH k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    m AS (
      SELECT d.doc_id, d.n_chars,
             len(string_split(d.text, ' ')) AS n_tok,
             kk.doc_id IS NOT NULL AS kept
      FROM documents d LEFT JOIN k kk ON d.doc_id = kk.doc_id
    )
    SELECT
      CAST(count(*) AS BIGINT) AS docs_before,
      CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
      CAST(sum(n_tok) AS BIGINT) AS tokens_before,
      CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
        AS tokens_after,
      CAST(round(1.0 - sum(CASE WHEN kept THEN n_tok ELSE 0.0 END)
           / sum(n_tok), 6) AS DOUBLE) AS token_reduction,
      CAST(round(avg(n_chars), 6) AS DOUBLE) AS mean_chars_before,
      CAST(round(avg(CASE WHEN kept THEN n_chars END), 6) AS DOUBLE)
        AS mean_chars_after
    FROM m
    """,
)
def d129_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup actually buys: document/token counts and mean
    length before vs after keep-first survivorship, plus the token-
    mass reduction — the one-row report a curation run logs next to
    d113's dataset card. The keeper set is the text-keyed min-agg
    (hash-sized shuffle, same as d21); both 'before' and 'after'
    aggregate in ONE conditional pass over the flagged corpus — never
    two scans. avg(CASE WHEN kept THEN x END) ignores non-kept rows
    via NULL in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("__keep", F.lit(True))
    )
    m = docs.join(keepers, "doc_id", "left").select(
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.col("__keep").isNotNull().alias("kept"),
    )
    kept_tok = F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
    return m.agg(
        F.count("*").alias("docs_before"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("docs_after"),
        F.sum("n_tok").alias("tokens_before"),
        kept_tok.alias("tokens_after"),
        F.round(
            F.lit(1.0)
            - F.sum(
                F.when(F.col("kept"), F.col("n_tok").cast("double")).otherwise(
                    0.0
                )
            )
            / F.sum("n_tok"),
            6,
        ).alias("token_reduction"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars_before"),
        F.round(
            F.avg(F.when(F.col("kept"), F.col("n_chars"))), 6
        ).alias("mean_chars_after"),
    )
