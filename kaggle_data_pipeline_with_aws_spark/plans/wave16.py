"""Round-4 seventh wave: semantic dedup and distributed-statistics
operators —

- d110 — SemDeDup: embedding-cluster near-duplicate pruning (assign
  to IVF cells, pairwise cosine WITHIN cells only, drop the pair
  member farther from its centroid).
- d111 — two deterministic logistic-regression gradient steps over
  row-local quality features (the distributed-training building
  block, next to d72's k-means step and q73's OLS).
- d112 — calibration curve: does the mean-word-length signal predict
  stopword presence, bucketed and audited.
- q101 — two-sample z-test between event populations (A/B readout).
- q102 — day-of-week seasonality index per event type.

Scale notes: d110 never forms cross-cell pairs — the candidate join
is an equi-join on cell id (the d62 shape), and the drop rule is
order-independent (one pass, no iteration); d111 moves three floats
per step (sufficient-statistics aggregate + broadcast weight
vector); d112/q101/q102 are single-scan conditional aggregates over
tiny group counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text
from ..operators.similarity import cosine_vectorized
from ..sources.readers import load_table
from .llm_data import _DOT_SQL, _DOT_VC, _NORM_C, _NORM_SQL, _NORM_V
from .registry import spark_query


# ---------------------------------------------------------------------------
# d110 — SemDeDup (one-shot, order-independent variant).
# ---------------------------------------------------------------------------
_SEM_T = 0.35  # pruning threshold; demo-scaled for random unit vectors
# (real embedding dupes sit near 1.0 — the plan is threshold-agnostic)


def _semdedup_oracle() -> str:
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16
    ),
    sc AS (
      SELECT v.vec_id, c.cid AS cid,
             round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6) AS cscore
      FROM embeddings v, cents c
    ),
    asg AS (
      SELECT vec_id, cid, cscore FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cscore DESC, cid ASC) AS r
        FROM sc) WHERE r = 1
    ),
    pairs AS (
      SELECT x.vec_id AS va, y.vec_id AS vb,
             x.cscore AS ca, y.cscore AS cb
      FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
    ),
    sim AS (
      SELECT p.va, p.vb, p.ca, p.cb
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.va
      JOIN embeddings b ON b.vec_id = p.vb
      WHERE round({_DOT_SQL} / ({_NORM_SQL.format(v='a')}
                  * {_NORM_SQL.format(v='b')}), 6) >= {_SEM_T}
    ),
    losers AS (
      SELECT DISTINCT CASE
        WHEN ca < cb OR (ca = cb AND va > vb) THEN va ELSE vb END AS vec_id
      FROM sim
    )
    SELECT g.vec_id, g.cid AS cell_id, g.cscore AS centroid_sim,
           l.vec_id IS NULL AS kept
    FROM asg g LEFT JOIN losers l ON g.vec_id = l.vec_id
    ORDER BY g.vec_id
    """


@spark_query("d110_semdedup", _semdedup_oracle())
def d110_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al.): prune semantic near-duplicates by
    clustering embeddings and comparing pairs ONLY within a cluster —
    the quadratic pairwise cosine never crosses a cell boundary, so
    work is Σ(cell²) not n². Assignment reuses the fixed seeded
    centroids of d20/d62 (broadcast, rounded-before-argmax); for each
    within-cell pair above the threshold the member FARTHER from its
    centroid is dropped (rounded centroid-sim, id tiebreak — a single
    order-independent pass, so the keep set is deterministic and both
    engines agree without iterating). Output: every vector with its
    cell, centroid similarity, and keep flag."""
    embs = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        embs.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
        )
    )
    sc = embs.select("vec_id", "embedding").crossJoin(cents).select(
        "vec_id",
        "cid",
        "embedding",
        F.round(cosine_vectorized(F.col("embedding"), F.col("cemb")), 6).alias(
            "cscore"
        ),
    )
    asg = (
        sc.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cscore")).alias("neg"),
                    F.col("cid"),
                    F.col("embedding").alias("emb"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.cid").alias("cid"),
            (-F.col("b.neg")).alias("cscore"),
            F.col("b.emb").alias("emb"),
        )
    )
    x = asg.select(
        F.col("vec_id").alias("va"),
        F.col("cid"),
        F.col("cscore").alias("ca"),
        F.col("emb").alias("ea"),
    )
    y = asg.select(
        F.col("vec_id").alias("vb"),
        F.col("cid"),
        F.col("cscore").alias("cb"),
        F.col("emb").alias("eb"),
    )
    sim = (
        x.join(y, "cid")
        .filter(F.col("va") < F.col("vb"))
        .filter(
            F.round(cosine_vectorized(F.col("ea"), F.col("eb")), 6)
            >= _SEM_T
        )
    )
    losers = sim.select(
        F.when(
            (F.col("ca") < F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("va") > F.col("vb"))),
            F.col("va"),
        )
        .otherwise(F.col("vb"))
        .alias("vec_id")
    ).distinct()
    return (
        asg.join(
            losers.withColumn("__lost", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.col("cid").alias("cell_id"),
            F.col("cscore").alias("centroid_sim"),
            F.col("__lost").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# d111 — two deterministic logistic-regression gradient steps.
# Features per doc: [1, n_tokens/100, type-token ratio]; label:
# contains the stopword 'the'. Start w = 0, learning rate 1.
# ---------------------------------------------------------------------------
_FEATS_SQL = """
      SELECT 1.0 AS x0,
             len(string_split(text, ' ')) / 100.0 AS x1,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS x2,
             CASE WHEN list_contains(string_split(text, ' '), 'the')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
"""


def _logreg_oracle() -> str:
    # step 1 from w=0: sigmoid is exactly 0.5 → closed-form gradient;
    # step 2 re-scores with the broadcast rounded w1.
    return f"""
    WITH f AS ({_FEATS_SQL}),
    g1 AS (
      SELECT round(-avg(x0 * (0.5 - y)) * -1.0, 6) AS gw0,
             round(-avg(x1 * (0.5 - y)) * -1.0, 6) AS gw1,
             round(-avg(x2 * (0.5 - y)) * -1.0, 6) AS gw2
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
    )
    SELECT * FROM (
      SELECT 1 AS step, round(w0, 6) AS w_bias, round(w1, 6) AS w_len,
             round(w2, 6) AS w_ttr
      FROM w1
      UNION ALL
      SELECT 2, round(w.w0 - g.gw0, 6), round(w.w1 - g.gw1, 6),
             round(w.w2 - g.gw2, 6)
      FROM w1 w, g2 g
    ) ORDER BY step
    """


@spark_query("d111_logreg_steps", _logreg_oracle())
def d111_logreg_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full-batch gradient-descent steps of a logistic quality
    classifier, end to end in the engine: features are row-local
    array expressions, each step is ONE sufficient-statistics
    aggregate (three partial sums), and the 3-float weight vector
    broadcasts back for the next pass — the exact data movement of
    distributed LR training (compare d72's Lloyd step and q73's OLS
    sufficient stats). Determinism: from w=0 the first sigmoid is
    exactly 0.5 in both engines; thereafter gradients and weights
    round to 6 decimals at every hand-off so cross-engine float-sum
    drift can never compound."""
    tok = text.tokens("text")
    n = F.size(tok)
    f = load_table(spark, sf_dir, "documents").select(
        F.lit(1.0).alias("x0"),
        (n / 100.0).alias("x1"),
        (F.size(F.array_distinct(tok)).cast("double") / n).alias("x2"),
        F.when(F.array_contains(tok, "the"), 1.0).otherwise(0.0).alias("y"),
    )
    g1 = f.agg(
        *[
            F.round(F.avg(F.col(c) * (F.lit(0.5) - F.col("y"))), 6).alias(
                f"g{i}"
            )
            for i, c in enumerate(["x0", "x1", "x2"])
        ]
    )
    w1 = g1.select(
        *[(-F.col(f"g{i}")).alias(f"w{i}") for i in range(3)]
    )
    z = F.round(
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2"),
        6,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
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
    step1 = w1.select(
        F.lit(1).alias("step"),
        F.round(F.col("w0"), 6).alias("w_bias"),
        F.round(F.col("w1"), 6).alias("w_len"),
        F.round(F.col("w2"), 6).alias("w_ttr"),
    )
    step2 = (
        w1.crossJoin(F.broadcast(g2))
        .select(
            F.lit(2).alias("step"),
            F.round(F.col("w0") - F.col("g0"), 6).alias("w_bias"),
            F.round(F.col("w1") - F.col("g1"), 6).alias("w_len"),
            F.round(F.col("w2") - F.col("g2"), 6).alias("w_ttr"),
        )
    )
    return step1.unionByName(step2).orderBy("step")


# ---------------------------------------------------------------------------
# d112 — calibration curve of a quality signal.
# ---------------------------------------------------------------------------
@spark_query(
    "d112_calibration_curve",
    """
    WITH s AS (
      SELECT CAST(floor(list_avg(list_transform(string_split(text, ' '),
                    w -> len(w))) * 10) AS BIGINT) AS bucket,
             list_avg(list_transform(string_split(text, ' '),
                    w -> len(w))) AS score,
             CASE WHEN list_contains(string_split(text, ' '), 'the')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    )
    SELECT bucket, count(*) AS n,
           CAST(round(avg(score), 6) AS DOUBLE) AS mean_score,
           CAST(round(avg(y), 6) AS DOUBLE) AS pos_rate
    FROM s GROUP BY bucket ORDER BY bucket
    """,
)
def d112_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a heuristic quality signal: bucket the
    mean-word-length score at 0.1 granularity and report observed
    positive rate (stopword presence) per bucket — the audit that
    decides whether a cheap filter's score can gate a 100-TB corpus.
    Row-local scoring, one bucket-sized aggregate; fixed-width
    buckets (integer floor — no percentile pass needed, and both
    engines bucket identically)."""
    tok = text.tokens("text")
    score = F.aggregate(
        tok, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ) / F.size(tok)
    d = load_table(spark, sf_dir, "documents").select(
        F.floor(score * 10).cast("long").alias("bucket"),
        score.alias("score"),
        F.when(F.array_contains(tok, "the"), 1.0).otherwise(0.0).alias("y"),
    )
    return (
        d.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("pos_rate"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q101 — two-sample z-test (A/B readout).
# ---------------------------------------------------------------------------
@spark_query(
    "q101_ab_ztest",
    """
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS m,
             var_samp(value) AS v
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    )
    SELECT a.n AS n_click, b.n AS n_view,
           CAST(round(a.m, 6) AS DOUBLE) AS mean_click,
           CAST(round(b.m, 6) AS DOUBLE) AS mean_view,
           CAST(round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6)
                AS DOUBLE) AS z
    FROM g a, g b
    WHERE a.event_type = 'click' AND b.event_type = 'view'
    """,
)
def q101_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample z statistic between the click and view value
    populations — the A/B-test readout as a query. One conditional
    scan produces both groups' (n, mean, var_samp) in a single
    partial-aggregable pass; the z arithmetic runs on the 2-row
    aggregate. At 100 TB this is the canonical 'compare two cohorts
    without moving them' shape."""
    g = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"), F.col("m").alias("ma"), F.col("v").alias("va")
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_click",
        "n_view",
        F.round(F.col("ma"), 6).alias("mean_click"),
        F.round(F.col("mb"), 6).alias("mean_view"),
        F.round(
            (F.col("ma") - F.col("mb"))
            / F.sqrt(F.col("va") / F.col("n_click") + F.col("vb") / F.col("n_view")),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# q102 — day-of-week seasonality index.
# ---------------------------------------------------------------------------
@spark_query(
    "q102_dow_seasonality",
    """
    WITH d AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*) AS n,
             avg(value) AS m
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type,
                 sum(n * m) / sum(n) AS overall
          FROM d GROUP BY 1)
    SELECT d.event_type, CAST(d.dow AS INT) AS dow, CAST(d.n AS BIGINT) AS n,
           CAST(round(d.m / t.overall, 6) AS DOUBLE) AS seasonal_index
    FROM d JOIN t ON d.event_type = t.event_type
    ORDER BY d.event_type, d.dow
    """,
)
def q102_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean event value per day-of-week relative to the type's
    overall mean — index 1.0 = no weekly seasonality. Rows collapse
    to (type × 7) cells in one partial-aggregable pass; the overall
    mean is recovered EXACTLY from those same cells (Σn·m / Σn — no
    second scan). Day-of-week is normalized to DuckDB's Sunday=0
    convention (Spark's dayofweek is Sunday=1)."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        )
        .agg(F.count("*").alias("n"), F.avg("value").alias("m"))
    )
    t = d.groupBy("event_type").agg(
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("overall")
    )
    return (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            F.round(F.col("m") / F.col("overall"), 6).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )
