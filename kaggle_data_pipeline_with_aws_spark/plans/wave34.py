"""Round-6 second wave (post-window additions; prove in round 7):

- d143 — intra-document repetition (the Gopher repetition signals
  d99's row-local rules don't cover): fraction of 5-gram instances
  belonging to a 5-gram that repeats WITHIN the document, and the
  share of bigram instances taken by the document's most frequent
  bigram — the two standard "looping text" detectors.
- d144 — neighborhood label margin (hard-negative mining / mislabel
  screen): per query vector, the nearest SAME-label and nearest
  DIFFERENT-label cosine; margin = same − diff. A negative margin
  means the nearest neighbor disagrees with the label — a boundary
  point or a labeling error, and the "hard negative" contrastive
  training mines for.
- d145 — per-label embedding coherence: centroid per label and the
  mean cosine of members to their centroid — the cluster-quality map
  that ranks labels by semantic tightness (diffuse labels are noisy
  supervision). Cells-not-vectors: the centroid is a (label, dim)
  aggregate, never a driver-side collect.

Reference scope: beyond-reference LLM-data-curation surface; the
reference pipeline has no counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table, spread_for_compute
from .llm_data import _DOT_SQL, _NORM_SQL
from .registry import spark_query


# ---------------------------------------------------------------------------
# d143 — intra-document repetition (Gopher repetition filters).
# ---------------------------------------------------------------------------
_REP_N = 5  # n-gram size for the duplicate-ngram fraction


def _d143_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_aggregate(t[i : i + {_REP_N} - 1], 'string_agg', ' ')
               AS gram
      FROM toks, unnest(range(1, len(t) - {_REP_N} + 2)) AS u(i)
      WHERE len(t) >= {_REP_N}
    ),
    gcnt AS (
      SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    ),
    rep AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_repeated
      FROM gcnt GROUP BY 1
    ),
    bg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    bcnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
    btop AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(max(c) AS BIGINT) AS top_bigram_n
      FROM bcnt GROUP BY 1
    )
    SELECT r.doc_id,
           r.n_grams,
           CAST(round(CAST(r.n_repeated AS DOUBLE) / r.n_grams, 6)
                AS DOUBLE) AS dup_ngram_frac,
           CAST(round(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams, 6)
                AS DOUBLE) AS top_bigram_share,
           CAST(r.n_repeated AS DOUBLE) / r.n_grams > 0.3
             OR CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams > 0.2
             AS flagged
    FROM rep r JOIN btop b ON r.doc_id = b.doc_id
    ORDER BY r.doc_id
    """


@spark_query("d143_intra_doc_repetition", _d143_oracle())
def d143_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Looping-text detectors, per document: the fraction of 5-gram
    instances whose gram occurs more than once in the SAME document,
    and the most frequent bigram's share of all bigram instances —
    flagged past the Gopher-ish 0.3/0.2 cut. All grouping keys carry
    doc_id, so every shuffle is within-document and the op scales as a
    per-doc map: no cross-document state, no skew beyond document
    length (bounded by the corpus's own max-doc rule)."""
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n = F.size("t")
    grams = toks.filter(n >= _REP_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - _REP_N),
                lambda i: F.array_join(F.slice("t", i + 1, _REP_N), " "),
            )
        ).alias("gram"),
    )
    gcnt = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    rep = gcnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
            "n_repeated"
        ),
    )
    bg = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.array_join(F.slice("t", i + 1, 2), " "),
            )
        ).alias("gram"),
    )
    bcnt = bg.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    btop = bcnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    dup_frac = F.col("n_repeated").cast("double") / F.col("n_grams")
    top_share = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    return (
        rep.join(btop, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            F.round(dup_frac, 6).alias("dup_ngram_frac"),
            F.round(top_share, 6).alias("top_bigram_share"),
            ((dup_frac > 0.3) | (top_share > 0.2)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d144 — neighborhood label margin (hard negatives / mislabel screen).
# ---------------------------------------------------------------------------
_D144_QUERIES = 20  # vec_id < 20 play the query set (d09's convention)


def _d144_oracle() -> str:
    cos = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')}"
        f" * {_NORM_SQL.format(v='b')}), 6)"
    )
    return f"""
    WITH scored AS (
      SELECT b.vec_id AS query_id, b.label AS label,
             a.vec_id AS neighbor_id,
             a.label = b.label AS same_label,
             {cos} AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < {_D144_QUERIES} AND a.vec_id != b.vec_id
    ),
    best AS (
      SELECT query_id, label, same_label, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id, same_label
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS r
      FROM scored
    ),
    pos AS (
      SELECT query_id, label, neighbor_id AS pos_id, cos_sim AS pos_cos
      FROM best WHERE same_label AND r = 1
    ),
    neg AS (
      SELECT query_id, neighbor_id AS neg_id, cos_sim AS neg_cos
      FROM best WHERE NOT same_label AND r = 1
    )
    SELECT p.query_id, CAST(p.label AS INT) AS label,
           p.pos_id, CAST(p.pos_cos AS DOUBLE) AS pos_cos,
           n.neg_id, CAST(n.neg_cos AS DOUBLE) AS neg_cos,
           CAST(round(p.pos_cos - n.neg_cos, 6) AS DOUBLE) AS margin,
           p.pos_cos < n.neg_cos AS suspect
    FROM pos p JOIN neg n ON p.query_id = n.query_id
    ORDER BY p.query_id
    """


@spark_query("d144_label_margin", _d144_oracle())
def d144_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query vector: nearest same-label and nearest different-label
    cosine (exact, ties by neighbor id), margin = pos − neg. Negative
    margin ⇒ the nearest neighbor disagrees with the query's label —
    the standard mislabel/boundary screen, and the different-label
    side IS the mined hard negative for contrastive training. The
    query set broadcasts (d09's brute-force shape: corpus streams
    once, 2 rows per query survive the window); the scale path swaps
    the scan for the IVF candidate join without changing this
    contract."""
    from ..operators.similarity import _cosine

    embs = load_table(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < _D144_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("label"),
        F.col("embedding").alias("__qv"),
    )
    c = spread_for_compute(embs).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("__nl"),
        F.col("embedding").alias("__cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            (F.col("__nl") == F.col("label")).alias("same_label"),
            F.round(_cosine(F.col("__qv"), F.col("__cv"), True), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    best = scored.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") == 1
    )
    pos = best.filter("same_label").select(
        "query_id",
        "label",
        F.col("neighbor_id").alias("pos_id"),
        F.col("cos_sim").alias("pos_cos"),
    )
    neg = best.filter(~F.col("same_label")).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("cos_sim").alias("neg_cos"),
    )
    return (
        pos.join(neg, "query_id")
        .select(
            "query_id",
            F.col("label").cast("int").alias("label"),
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
            (F.col("pos_cos") < F.col("neg_cos")).alias("suspect"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# d145 — per-label embedding coherence (centroid tightness).
# ---------------------------------------------------------------------------
def _d145_oracle() -> str:
    # Determinism (the d95/q61 rule): engine-native avg() accumulates
    # in engine-specific order, so BOTH means here — the centroid
    # component and the per-label mean cosine — derive from EXACT
    # integer sums of per-row quantized values (1e-9 units, far finer
    # than the corpus's own variation), divided in identical op order.
    # The member cosine itself is a dim-sequential fold of
    # deterministic doubles, so it is bit-identical cross-engine.
    dot_vc = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(v.embedding[i] AS DOUBLE) * c.cent[i])), "
        "(acc, x) -> acc + x)"
    )
    norm_v = _NORM_SQL.format(v="v")
    norm_c = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> c.cent[i] * c.cent[i])), (acc, x) -> acc + x))"
    )
    return f"""
    WITH comp AS (
      SELECT label, i,
             CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE)
                    * 1000000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
               / count(*) / 1000000000.0 AS m
      FROM embeddings, unnest(range(1, 65)) AS u(i)
      GROUP BY 1, 2
    ),
    cents AS (
      SELECT label, list(m ORDER BY i) AS cent FROM comp GROUP BY 1
    ),
    scored AS (
      SELECT v.label,
             {dot_vc} / ({norm_v} * {norm_c}) AS cos
      FROM embeddings v JOIN cents c ON v.label = c.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(CAST(sum(CAST(floor(cos * 1000000000.0 + 0.5)
                  AS HUGEINT)) AS DOUBLE) / count(*) / 1000000000.0, 6)
                AS DOUBLE) AS mean_cos,
           CAST(round(min(cos), 6) AS DOUBLE) AS min_cos
    FROM scored GROUP BY 1 ORDER BY 1
    """


@spark_query("d145_label_coherence", _d145_oracle())
def d145_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic tightness per label: the label centroid (a (label, dim)
    aggregate — posexplode + sum, cells not vectors, so the centroid
    table is |labels|×64 rows however big the corpus) broadcast back
    onto members for an exact cosine-to-centroid, then per-label mean
    and min. Diffuse labels (low mean_cos) are noisy supervision;
    min_cos points at each label's worst member. The member cosine is
    the same dimension-sequential fold as the oracle's list_reduce.

    Cross-engine determinism (the d95/q61 rule): both means — the
    centroid component and the per-label mean cosine — derive from
    EXACT integer sums of per-row 1e-9-quantized values
    (order-independent, identical at any scale), divided in the same
    op order as the oracle; engine-native avg() accumulation, whose
    algorithm differs between engines, is never compared."""
    embs = load_table(spark, sf_dir, "embeddings")
    q9 = F.lit(1e9)
    comp = (
        spread_for_compute(embs)
        .select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * q9 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("double")
            .alias("s"),
            F.count("*").alias("cnt"),
        )
        .select("label", "i", (F.col("s") / F.col("cnt") / q9).alias("m"))
    )
    cents = comp.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("i"), F.col("m")))
        ).alias("__im")
    ).select(
        "label",
        F.transform(F.col("__im"), lambda s: s.getField("m")).alias("cent"),
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding", "cent", lambda a, b: a.cast("double") * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            F.transform(
                "embedding", lambda a: a.cast("double") * a.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_c = F.sqrt(
        F.aggregate(
            F.transform("cent", lambda a: a * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = embs.join(F.broadcast(cents), "label").select(
        "label", (dot / (norm_v * norm_c)).alias("cos")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(
                    F.floor(F.col("cos") * q9 + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.count("*")
                / q9,
                6,
            ).alias("mean_cos"),
            F.round(F.min("cos"), 6).alias("min_cos"),
        )
        .orderBy("label")
    )
