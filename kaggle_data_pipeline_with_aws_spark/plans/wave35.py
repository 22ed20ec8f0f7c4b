"""Round-6 third wave (post-window additions; prove in round 7):

- d146 — mergeable histogram quantile sketch: the missing member of
  the sketch family (next to KMV distinct, count-min, Bloom). Fixed
  $100-wide price buckets give a (bucket, count) table that merges by
  addition across partitions/streams/days; quantiles come from the
  cumulative table by linear interpolation, and the query reports the
  estimate NEXT TO the exact percentile so the error is audited
  in-band (|err| is bounded by one bucket width when estimate and
  truth share a straddling bucket).
- d147 — token-mass length percentiles: "the median TOKEN lives in a
  document of how many tokens?" — doc-count percentiles understate
  long-doc dominance; packing/sequence-length policy needs the
  token-weighted view. One length-histogram aggregate; the cumulative
  walk runs over the length-distinct table, never the corpus.

Reference scope: beyond-reference LLM-data/warehouse surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d146 — mergeable histogram quantile sketch with in-band error audit.
# ---------------------------------------------------------------------------
_HQ_WIDTH = 100.0  # bucket width in price units
_HQ_QS = (0.5, 0.9, 0.99)


def _d146_oracle() -> str:
    q_rows = ", ".join(f"({q})" for q in _HQ_QS)
    return f"""
    WITH b AS (
      SELECT CAST(floor(l_extendedprice / {_HQ_WIDTH}) AS BIGINT) AS bucket,
             count(*) AS c
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             sum(c) OVER (ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) - c AS cum_prev
      FROM b
    ),
    n AS (SELECT count(*) AS n FROM lineitem),
    qs(q) AS (VALUES {q_rows}),
    pick AS (
      SELECT q, min(bucket) AS bucket
      FROM qs, cum, n
      WHERE cum >= q * n.n
      GROUP BY q
    ),
    est AS (
      SELECT p.q,
             p.bucket * {_HQ_WIDTH}
               + {_HQ_WIDTH} * (p.q * n.n - c2.cum_prev) / c2.c AS est_v
      FROM pick p JOIN cum c2 ON c2.bucket = p.bucket, n
    ),
    -- exact leg: the type-1 (inverted-CDF) order statistic — the
    -- smallest stored value whose global cumulative count reaches
    -- q·n. Pure counts and comparisons, no interpolation arithmetic:
    -- engine-exact, unlike quantile_cont/F.percentile whose float op
    -- order differs between engines (the q61 cross-engine class).
    -- Two-phase so it scales: the bucket cum table locates the one
    -- bucket holding the target rank; only THAT bucket's rows are
    -- grouped by exact value (bounded by the value grid inside one
    -- bucket, never data-sized) for the within-bucket walk.
    exin AS (
      SELECT p.q, c2.cum_prev, l.l_extendedprice AS v, count(*) AS vc
      FROM pick p
      JOIN cum c2 ON c2.bucket = p.bucket
      JOIN lineitem l
        ON CAST(floor(l.l_extendedprice / {_HQ_WIDTH}) AS BIGINT) = p.bucket
      GROUP BY 1, 2, 3
    ),
    excum AS (
      SELECT q, cum_prev, v,
             sum(vc) OVER (PARTITION BY q ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cin
      FROM exin
    ),
    ex AS (
      SELECT e.q, min(e.v) AS exact_v
      FROM excum e, n
      WHERE e.cum_prev + e.cin >= e.q * n.n
      GROUP BY e.q
    )
    SELECT CAST(e.q AS DOUBLE) AS q,
           CAST(round(e.est_v, 6) AS DOUBLE) AS est_value,
           CAST(round(x.exact_v, 6) AS DOUBLE) AS exact_value,
           CAST(round(abs(e.est_v - x.exact_v) / {_HQ_WIDTH}, 6) AS DOUBLE)
             AS err_in_widths
    FROM est e JOIN ex x ON e.q = x.q
    ORDER BY q
    """


@spark_query("d146_histogram_quantiles", _d146_oracle())
def d146_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over l_extendedprice: one bucketed
    count (partial-agg shuffle of ≤ ~1,050 8-byte keys however big the
    fact table), a cumulative window over the BUCKET table (bounded by
    the value range / width, never data-sized), linear interpolation
    at p50/p90/p99, and the exact percentile alongside for an audited
    error in bucket widths. The (bucket, count) table is the mergeable
    artifact: day-over-day or partition-over-partition merges are
    count additions, which is what makes this the scale path where
    exact percentiles need a full sort.

    The exact leg is the type-1 (inverted-CDF) order statistic —
    counts and comparisons only, no interpolation arithmetic — so
    both engines pick the identical stored value (F.percentile and
    quantile_cont interpolate with different float op orders, the q61
    cross-engine class). It is computed in two bounded phases: the
    bucket cum table locates the one bucket holding rank q·n, then
    only that bucket's rows are grouped by exact value for the
    within-bucket cumulative walk — the walk's window partition is
    capped by the distinct-value grid inside ONE bucket (10,000 cent
    values for a $100 bucket), never data-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    b = (
        li.select(
            F.floor(F.col("l_extendedprice") / _HQ_WIDTH)
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bucket",
        "c",
        F.sum("c").over(w).alias("cum"),
        (F.sum("c").over(w) - F.col("c")).alias("cum_prev"),
    )
    qs = F.explode(F.array(*[F.lit(float(q)) for q in _HQ_QS])).alias("q")
    targets = li.agg(F.count("*").alias("n")).select(qs, "n")
    picked = (
        cum.join(F.broadcast(targets), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bucket").alias("bucket"), F.first("n").alias("n"))
    )
    # exact leg: only the picked buckets' rows are touched (a broadcast
    # semi-ish join on bucket), grouped by exact value, then a within-
    # bucket cumulative walk picks the value at global rank q·n
    pick_full = F.broadcast(
        picked.join(cum.select("bucket", "cum_prev"), "bucket").select(
            "q", "bucket", "cum_prev", "n"
        )
    )
    exin = (
        li.select(
            F.col("l_extendedprice").alias("v"),
            F.floor(F.col("l_extendedprice") / _HQ_WIDTH)
            .cast("long")
            .alias("bucket"),
        )
        .join(pick_full, "bucket")
        .groupBy("q", "cum_prev", "n", "v")
        .agg(F.count("*").alias("vc"))
    )
    win = (
        Window.partitionBy("q")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ex = (
        exin.withColumn("cin", F.sum("vc").over(win))
        .filter(F.col("cum_prev") + F.col("cin") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("v").alias("exact_v"))
    )
    est_v = F.col("bucket") * _HQ_WIDTH + _HQ_WIDTH * (
        F.col("q") * F.col("n") - F.col("cum_prev")
    ) / F.col("c")
    return (
        picked.join(cum.select("bucket", "c", "cum_prev"), "bucket")
        .join(ex, "q")
        .select(
            "q",
            F.round(est_v, 6).alias("est_value"),
            F.round("exact_v", 6).alias("exact_value"),
            F.round(F.abs(est_v - F.col("exact_v")) / _HQ_WIDTH, 6).alias(
                "err_in_widths"
            ),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# d147 — token-mass length percentiles.
# ---------------------------------------------------------------------------
_TM_QS = (0.5, 0.9)


def _d147_oracle() -> str:
    q_rows = ", ".join(f"({q})" for q in _TM_QS)
    return f"""
    WITH lens AS (
      SELECT len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    h AS (SELECT n_tok, count(*) AS docs FROM lens GROUP BY 1),
    cum AS (
      SELECT n_tok, docs, n_tok * docs AS mass,
             sum(n_tok * docs) OVER (ORDER BY n_tok
                 ROWS UNBOUNDED PRECEDING) AS cum_mass,
             sum(docs) OVER (ORDER BY n_tok
                 ROWS UNBOUNDED PRECEDING) AS cum_docs
      FROM h
    ),
    tot AS (SELECT sum(n_tok * docs) AS mass, sum(docs) AS docs FROM h),
    qs(q) AS (VALUES {q_rows}),
    bymass AS (
      SELECT q, min(n_tok) AS len_at_token_q
      FROM qs, cum, tot WHERE cum_mass >= q * tot.mass GROUP BY q
    ),
    bydocs AS (
      SELECT q, min(n_tok) AS len_at_doc_q
      FROM qs, cum, tot WHERE cum_docs >= q * tot.docs GROUP BY q
    )
    SELECT CAST(m.q AS DOUBLE) AS q,
           CAST(m.len_at_token_q AS BIGINT) AS len_at_token_q,
           CAST(d.len_at_doc_q AS BIGINT) AS len_at_doc_q,
           CAST(round(CAST(m.len_at_token_q AS DOUBLE)
                 / d.len_at_doc_q, 6) AS DOUBLE) AS mass_skew
    FROM bymass m JOIN bydocs d ON m.q = d.q
    ORDER BY q
    """


@spark_query("d147_token_mass_percentiles", _d147_oracle())
def d147_token_mass_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length percentiles weighted by TOKEN MASS vs by document count,
    side by side: the q-th token lives in a doc of `len_at_token_q`
    tokens while the q-th document has `len_at_doc_q` — their ratio
    (mass_skew ≥ 1) is how much long-doc dominance the doc-count view
    hides, the number that sizes packing windows and truncation
    budgets. One histogram aggregate over doc lengths; both cumulative
    walks run over the length-distinct table (bounded by max doc
    length, never corpus-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        docs.select(F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("n_tok")
        .agg(F.count("*").alias("docs"))
    )
    w = Window.orderBy("n_tok").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "n_tok",
        F.sum(F.col("n_tok").cast("long") * F.col("docs")).over(w).alias(
            "cum_mass"
        ),
        F.sum("docs").over(w).alias("cum_docs"),
    )
    tot = h.agg(
        F.sum(F.col("n_tok").cast("long") * F.col("docs")).alias("mass"),
        F.sum("docs").alias("docs"),
    )
    targets = tot.select(
        F.explode(F.array(*[F.lit(float(q)) for q in _TM_QS])).alias("q"),
        "mass",
        "docs",
    )
    joined = cum.crossJoin(F.broadcast(targets))
    bymass = (
        joined.filter(F.col("cum_mass") >= F.col("q") * F.col("mass"))
        .groupBy("q")
        .agg(F.min("n_tok").alias("len_at_token_q"))
    )
    bydocs = (
        joined.filter(F.col("cum_docs") >= F.col("q") * F.col("docs"))
        .groupBy("q")
        .agg(F.min("n_tok").alias("len_at_doc_q"))
    )
    return (
        bymass.join(bydocs, "q")
        .select(
            "q",
            F.col("len_at_token_q").cast("long").alias("len_at_token_q"),
            F.col("len_at_doc_q").cast("long").alias("len_at_doc_q"),
            F.round(
                F.col("len_at_token_q").cast("double")
                / F.col("len_at_doc_q"),
                6,
            ).alias("mass_skew"),
        )
        .orderBy("q")
    )
