"""Round-4 twenty-second wave — distribution-shift and forensic audits:

- d135 — pairwise two-sample Kolmogorov–Smirnov distance between the
  per-source document-length distributions: the classic "did this
  source's length profile drift from that one's" test, computed on a
  bounded distinct-value grid so no corpus-sized sort exists anywhere.
- d136 — χ² keyness: the tokens most characteristic of each source
  (log-likelihood-style 2×2 contingency per (source, token) over the
  global top tokens) — the standard corpus-linguistics "what makes
  this slice different" extractor.
- q113 — Benford first-significant-digit audit over order totals:
  the fraud/synthetic-data forensic that flags value columns whose
  leading-digit distribution strays from log10(1 + 1/d).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d135 — pairwise two-sample KS distance over per-source lengths.
# ---------------------------------------------------------------------------
@spark_query(
    "d135_ks_source_drift",
    """
    WITH grid AS (SELECT DISTINCT n_chars AS v FROM documents),
    src AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    cnt AS (
      SELECT source, n_chars AS v, count(*) AS c
      FROM documents GROUP BY source, n_chars
    ),
    cells AS (
      SELECT s.source, g.v, COALESCE(c.c, 0) AS c
      FROM src s CROSS JOIN grid g
      LEFT JOIN cnt c ON c.source = s.source AND c.v = g.v
    ),
    ecdf AS (
      SELECT source, v,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS DOUBLE)
               / (SELECT n FROM src WHERE src.source = cells.source) AS f
      FROM cells
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(max(abs(a.f - b.f)), 6) AS ks_stat
    FROM ecdf a JOIN ecdf b ON a.v = b.v AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def d135_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic (sup-norm ECDF distance) for every pair
    of sources over document length. The corpus collapses to a
    (source × distinct-length) count table in ONE shuffle; the ECDF
    cumulative window then runs over that BOUNDED grid (sources ×
    |value domain| rows — thousands, not billions), so the per-source
    ORDER BY window never sees corpus-sized partitions: this is
    exactly the d82-style fix applied from the start. The pair join is
    grid-sized, broadcastable, and the sup is a plain max aggregate.
    Length profiles are THE cheap drift alarm for ingest pipelines —
    a KS spike between yesterday's and today's crawl of the same
    source means the extractor changed, not the web."""
    docs = load_table(spark, sf_dir, "documents")
    grid = docs.select(F.col("n_chars").alias("v")).distinct()
    src = docs.groupBy("source").agg(F.count("*").alias("n"))
    cnt = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c")
    )
    cells = (
        src.crossJoin(F.broadcast(grid))
        .join(F.broadcast(cnt), ["source", "v"], "left")
        .select("source", "v", "n", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy("v")
    ecdf = cells.select(
        "source",
        "v",
        (F.sum("c").over(w).cast("double") / F.col("n")).alias("f"),
    )
    a = ecdf.select(
        F.col("source").alias("source_a"), "v", F.col("f").alias("fa")
    )
    b = ecdf.select(
        F.col("source").alias("source_b"), "v", F.col("f").alias("fb")
    )
    return (
        a.join(b, "v")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# d136 — χ² keyness: most characteristic tokens per source.
# ---------------------------------------------------------------------------
_KEYNESS_VOCAB = 50  # global top tokens considered
_KEYNESS_TOPK = 3  # keywords reported per source


@spark_query(
    "d136_chi2_keyness",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    totals AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    top_tok AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tok_n
      FROM tok GROUP BY token
      ORDER BY tok_n DESC, token ASC LIMIT {_KEYNESS_VOCAB}
    ),
    src_tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS src_n FROM tok GROUP BY source
    ),
    obs AS (
      SELECT t.source, t.token, CAST(count(*) AS BIGINT) AS k11
      FROM tok t JOIN top_tok ON t.token = top_tok.token
      GROUP BY t.source, t.token
    ),
    chi AS (
      SELECT o.source, o.token,
             CAST(o.k11 AS DOUBLE) AS a,
             CAST(s.src_n - o.k11 AS DOUBLE) AS b,
             CAST(tt.tok_n - o.k11 AS DOUBLE) AS c,
             CAST(n.n - s.src_n - tt.tok_n + o.k11 AS DOUBLE) AS d,
             CAST(n.n AS DOUBLE) AS n
      FROM obs o
      JOIN src_tot s ON s.source = o.source
      JOIN top_tok tt ON tt.token = o.token
      CROSS JOIN totals n
    )
    SELECT source, token, chi2, CAST(rk AS BIGINT) AS rk FROM (
      SELECT source, token,
             round(n * (a * d - b * c) * (a * d - b * c)
                   / NULLIF((a + b) * (a + c) * (b + d) * (c + d), 0),
                   6) AS chi2,
             row_number() OVER (PARTITION BY source
                 ORDER BY n * (a * d - b * c) * (a * d - b * c)
                          / NULLIF((a + b) * (a + c) * (b + d) * (c + d), 0)
                          DESC NULLS LAST,
                          token ASC) AS rk
      FROM chi)
    WHERE rk <= {_KEYNESS_TOPK}
    ORDER BY source, rk
    """,
)
def d136_chi2_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic vocabulary by χ² keyness: for each
    (source, token) over the global top-{_KEYNESS_VOCAB} tokens, the
    2×2 contingency χ² of token-occurrence vs source-membership, then
    the top {_KEYNESS_TOPK} tokens per source. The token stream
    collapses to three bounded aggregates (global total, per-source
    totals, top-vocab occurrence counts) in one explode pass; the χ²
    arithmetic and ranking run on a sources × vocab table — hundreds
    of rows regardless of corpus size, all model tables broadcast.
    This is the feature-selection/keyword-extraction primitive behind
    slice-discovery and topic labeling in curation stacks."""
    from ..operators import text

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens("text")).alias("token")
    )
    totals = tok.agg(F.count("*").alias("n"))
    top_tok = (
        tok.groupBy("token")
        .agg(F.count("*").alias("tok_n"))
        .orderBy(F.col("tok_n").desc(), F.col("token").asc())
        .limit(_KEYNESS_VOCAB)
    )
    src_tot = tok.groupBy("source").agg(F.count("*").alias("src_n"))
    obs = (
        tok.join(F.broadcast(top_tok.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count("*").alias("k11"))
    )
    chi = (
        obs.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(top_tok), "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            "token",
            F.col("k11").cast("double").alias("a"),
            (F.col("src_n") - F.col("k11")).cast("double").alias("b"),
            (F.col("tok_n") - F.col("k11")).cast("double").alias("c"),
            (F.col("n") - F.col("src_n") - F.col("tok_n") + F.col("k11"))
            .cast("double")
            .alias("d"),
            F.col("n").cast("double").alias("n"),
        )
    )
    # (b+d) = n − tok_n and (c+d) = n − src_n are 0 on degenerate
    # corpora (single source / single token in vocab); guard the
    # denominator to NULL so both engines agree instead of diverging
    # on IEEE inf/nan vs NULL division semantics. NULL chi2 rows sort
    # last (desc + nulls-last on both engines by the explicit oracle
    # NULLS LAST and Spark's desc default).
    denom = (
        (F.col("a") + F.col("b"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
        * (F.col("c") + F.col("d"))
    )
    stat = F.when(
        denom != 0,
        F.col("n")
        * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
        * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
        / denom,
    )
    w = Window.partitionBy("source").orderBy(
        stat.desc(), F.col("token").asc()
    )
    return (
        chi.select(
            "source",
            "token",
            F.round(stat, 6).alias("chi2"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _KEYNESS_TOPK)
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# q113 — Benford first-digit audit over order totals.
# ---------------------------------------------------------------------------
# expected shares log10(1 + 1/d), Python-computed so both engines
# compare against the exact same literals
_BENFORD = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}


def _q113_oracle() -> str:
    exp_case = " ".join(
        f"WHEN {d} THEN {_BENFORD[d]!r}" for d in range(1, 10)
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM digits)
    SELECT digit, CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(count(*) AS DOUBLE) / any_value(tot.n), 6) AS obs_share,
           CAST(CASE digit {exp_case} END AS DOUBLE) AS exp_share,
           round(abs(CAST(count(*) AS DOUBLE) / any_value(tot.n)
                     - CAST(CASE digit {exp_case} END AS DOUBLE)), 6)
             AS abs_dev
    FROM digits CROSS JOIN tot
    GROUP BY digit ORDER BY digit
    """


@spark_query("q113_benford_audit", _q113_oracle())
def q113_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the classic forensic screen for fabricated or
    truncated value columns (real multiplicative amounts follow
    log10(1+1/d); synthetic-uniform data, like this generator's,
    visibly does not — the audit exists to SHOW that deviation). The
    digit is extracted through exact integer cents (×100, round,
    leading decimal digit), never through float log10, so the bucket
    assignment is bit-exact on both engines; the expected shares are
    shared Python literals. One groupBy(digit) over the scan — nine
    output rows, no second pass."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    exp_col = F.element_at(
        F.create_map(
            *[
                lit
                for d in range(1, 10)
                for lit in (F.lit(d), F.lit(_BENFORD[d]))
            ]
        ),
        F.col("digit"),
    )
    tot = digits.agg(F.count("*").alias("n"))
    return (
        digits.groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / F.col("n"), 6
            ).alias("obs_share"),
            exp_col.alias("exp_share"),
            F.round(
                F.abs(
                    F.col("n_orders").cast("double") / F.col("n") - exp_col
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )
