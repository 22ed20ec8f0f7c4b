"""Round-4 second wave: segmentation-reset windows (q85), multiset
EXCEPT ALL (q86), scale-safe quantile normalization (d93), tokenizer
coverage curve (d94), embedding-norm QA (d95), sparse profile cosine
between language groups (d96), and a corpus correlation diagnostic
(d97). Fills the round-4 proof window to exactly 50 slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q85 — events since last purchase (gaps-and-islands segmentation).
# ---------------------------------------------------------------------------
@spark_query(
    "q85_events_since_purchase",
    """
    SELECT event_id, user_id,
           CAST(seg AS BIGINT) AS seg,
           CAST(row_number() OVER (PARTITION BY user_id, seg
                ORDER BY ts, event_id) - 1 AS BIGINT) AS n_since
    FROM (
      SELECT event_id, user_id, ts,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS seg
      FROM events
    )
    """,
)
def q85_events_since_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running counter that RESETS at every purchase — the islands
    face (a running flag-sum defines the segment, a rank within the
    segment is the counter), distinct from q31's plain lag gap. A
    purchase row opens its own segment, so it reads n_since = 0 and
    the count climbs until the next purchase. Both windows partition
    by user: state is bounded per key, no global window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w_seg)
    with_seg = ev.select(
        "event_id", "user_id", "ts", seg.cast("long").alias("seg")
    )
    w_in = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    return with_seg.select(
        "event_id",
        "user_id",
        "seg",
        (F.row_number().over(w_in) - 1).cast("long").alias("n_since"),
    )


# ---------------------------------------------------------------------------
# q86 — EXCEPT ALL (bag difference, multiplicity preserved).
# ---------------------------------------------------------------------------
@spark_query(
    "q86_except_all_views",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'click'
    """,
)
def q86_except_all_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference: each user_id appears max(n_views −
    n_clicks, 0) times — the BAG semantics (`exceptAll`) that plain
    EXCEPT/anti-join can't express (they collapse multiplicity).
    Spark plans it as one count-aggregate per side + a generate of
    the surplus — two shuffles on user_id, no row-by-row matching."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    return views.exceptAll(clicks)


# ---------------------------------------------------------------------------
# d93 — quantile normalization of a per-doc score (scale-safe
# percent_rank).
# ---------------------------------------------------------------------------
@spark_query(
    "d93_quantile_normalize",
    """
    SELECT doc_id, n_chars,
           round(percent_rank() OVER (ORDER BY n_chars, doc_id), 6)
             AS quantile
    FROM documents
    """,
)
def d93_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map every document's score (n_chars as the stand-in) to its
    exact global quantile in [0,1] — the rank-based feature transform
    robust to score distribution shift. percent_rank = (rank−1)/(n−1)
    computed from `contiguous_row_number`'s quantile-bucket prefix-sum
    (operators/renumber.py), NOT a single-partition global window —
    the same scale shape d82's deciles use, continuous instead of
    binned."""
    from ..operators.renumber import contiguous_row_number

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = contiguous_row_number(
        d, [F.col("n_chars"), F.col("doc_id")], out_col="__rank"
    )
    n = d.agg(F.count("*").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "n_chars",
            F.round(
                (F.col("__rank") - 1)
                / F.when(F.col("__n") > 1, F.col("__n") - 1).otherwise(1),
                6,
            ).alias("quantile"),
        )
    )


# ---------------------------------------------------------------------------
# d94 — tokenizer coverage curve: share of token occurrences covered
# by the top-k vocabulary.
# ---------------------------------------------------------------------------
_COV_KS = [50, 100, 200, 400]


@spark_query(
    "d94_vocab_coverage",
    f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    t AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS term
      FROM toks
    ),
    freq AS (SELECT term, count(*) AS n FROM t GROUP BY term),
    total AS (SELECT sum(n) AS tot, count(*) AS n_terms FROM freq),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, term ASC) AS rk
      FROM freq
    ),
    topk AS (SELECT n, rk FROM ranked WHERE rk <= {max(_COV_KS)}),
    cum AS (
      SELECT rk, sum(n) OVER (ORDER BY rk) AS cum_n FROM topk
    )
    SELECT CAST(rk AS BIGINT) AS k,
           round(CAST(cum_n AS DOUBLE) / tot, 6) AS coverage,
           CAST(n_terms AS BIGINT) AS vocab_size
    FROM cum, total
    WHERE rk IN ({", ".join(str(k) for k in _COV_KS)})
    """,
)
def d94_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of all term OCCURRENCES the top-k most frequent
    terms cover, at k ∈ {50,100,200,400} — the curve that sizes a
    tokenizer vocabulary (where it flattens, bigger vocabularies stop
    paying). Bigram terms, because this corpus's unigram vocabulary
    (31 words) is smaller than any useful checkpoint. The global rank
    window is guarded by ``rk <= 400`` (WindowGroupLimit: each
    partition forwards only its local top 400), so the cumsum and
    the checkpoint filter run over a 400-row table; corpus-sized
    data sees one groupBy only."""
    from ..operators.text import tokens, word_ngrams

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.explode(word_ngrams(tokens("text"), 2)).alias("term")
    )
    freq = t.groupBy("term").agg(F.count("*").alias("n"))
    total = freq.agg(
        F.sum("n").alias("tot"), F.count("*").alias("n_terms")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    topk = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= max(_COV_KS))
        .select("n", "rk")
    )
    cum = topk.withColumn(
        "cum_n",
        F.sum("n").over(
            Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        cum.filter(F.col("rk").isin(_COV_KS))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("long").alias("k"),
            F.round(F.col("cum_n").cast("double") / F.col("tot"), 6).alias(
                "coverage"
            ),
            F.col("n_terms").cast("long").alias("vocab_size"),
        )
    )


# ---------------------------------------------------------------------------
# d95 — embedding-norm outliers (vector QA before indexing).
# ---------------------------------------------------------------------------
@spark_query(
    "d95_embedding_norm_outliers",
    """
    WITH norms AS (
      -- quantize each norm to integer 1e-10 units (finer than the
      -- ~3e-8 normalization noise the corpus actually varies by, so
      -- the distribution survives; row-local, bit-identical across
      -- engines). Every corpus statistic below is then an EXACT
      -- integer sum — order-independent and identical at any scale.
      -- Engine-native avg/stddev_pop diverged ~2e-8 at 10×
      -- (different accumulation algorithms), flipping rounded z's.
      SELECT vec_id,
             CAST(floor(sqrt(list_reduce(list_prepend(0.0,
                  list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
                  (acc, x) -> acc + x)) * 10000000000.0 + 0.5) AS BIGINT) AS m
      FROM embeddings
    ),
    -- min-center before the moments: d = m - min(m) keeps the exact
    -- integers small, so E[d²] - E[d]² has no catastrophic
    -- cancellation in the double domain
    centered AS (
      SELECT vec_id, m, m - (SELECT min(m) FROM norms) AS d FROM norms
    ),
    stats AS (
      SELECT CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS s2,
             CAST(count(*) AS DOUBLE) AS n
      FROM centered
    )
    SELECT vec_id, m / 10000000000.0 AS l2_norm,
           round((d - s1 / n)
                 / NULLIF(sqrt(s2 / n - (s1 / n) * (s1 / n)), 0), 6) AS z
    FROM centered, stats
    WHERE abs((d - s1 / n)
              / NULLIF(sqrt(s2 / n - (s1 / n) * (s1 / n)), 0)) > 2
    """,
)
def d95_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors whose L2 norm sits >2σ from the corpus mean — broken
    encoders, zero vectors, and scale drift show up here before they
    poison a cosine index. Norm is a narrow higher-order fold per row;
    the (μ, σ) pair is a broadcast 1-row aggregate — two passes over
    the vector column, no shuffle of vectors at any scale.

    Cross-engine determinism (round-5 10× find): each norm is
    quantized per row to integer 1e-10 units — finer than the ~3e-8
    normalization noise this corpus varies by, so the distribution is
    preserved — then MIN-CENTERED so Σd and Σd² are small EXACT
    integer sums (no catastrophic cancellation in E[d²] − E[d]²).
    Engine-native avg/stddev_pop use different accumulation
    algorithms and diverged ~2e-8 at 20k vectors, flipping rounded
    z's; μ and σ now derive from the two exact moments with identical
    op order in both engines. The decimal casts keep the sums exact
    past bigint range at cluster row counts."""
    from ..operators.similarity import norm

    e = load_table(spark, sf_dir, "embeddings")
    quant = F.floor(
        norm(F.col("embedding")) * F.lit(1e10) + F.lit(0.5)
    ).cast("long")
    norms = e.select("vec_id", quant.alias("m"))
    m0 = norms.agg(F.min("m").alias("m0"))
    centered = norms.crossJoin(F.broadcast(m0)).select(
        "vec_id", "m", (F.col("m") - F.col("m0")).alias("d")
    )
    dec = "decimal(18,0)"
    stats = centered.agg(
        F.sum(F.col("d").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("d").cast(dec) * F.col("d").cast(dec))
        .cast("double")
        .alias("s2"),
        F.count("*").cast("double").alias("n"),
    )
    mu = F.col("s1") / F.col("n")
    sigma = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    z = (F.col("d") - mu) / F.nullif(sigma, F.lit(0.0))
    return (
        centered.crossJoin(F.broadcast(stats))
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(z) > 2)
        .select(
            "vec_id", (F.col("m") / F.lit(1e10)).alias("l2_norm"), "z"
        )
    )


# ---------------------------------------------------------------------------
# d96 — pairwise language distance via sparse term-profile cosine.
# ---------------------------------------------------------------------------
@spark_query(
    "d96_lang_profile_cosine",
    """
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT lang, term FROM tok WHERE term <> ''),
    tf AS (SELECT lang, term, count(*) AS n FROM t GROUP BY 1, 2),
    nrm AS (
      SELECT lang, sqrt(sum(CAST(n AS DOUBLE) * n)) AS l2 FROM tf GROUP BY 1
    )
    SELECT a.lang AS lang_1, b.lang AS lang_2,
           round(sum(CAST(a.n AS DOUBLE) * b.n)
                 / (any_value(na.l2) * any_value(nb.l2)), 6) AS cosine
    FROM tf a
    JOIN tf b ON a.term = b.term AND a.lang < b.lang
    JOIN nrm na ON na.lang = a.lang
    JOIN nrm nb ON nb.lang = b.lang
    GROUP BY 1, 2
    """,
)
def d96_lang_profile_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language similarity as SPARSE-VECTOR cosine between per-lang
    term-frequency profiles — the weighted complement of d36's binary
    vocab Jaccard (shared rare terms barely move Jaccard but dominate
    frequency profiles). The sparse dot product is a relational
    equi-join on term (only co-occurring terms meet — no dense
    vectors materialized); profile norms are group-count-sized and
    broadcast. At 100 TB the tf table is the only corpus-sized
    intermediate, shuffled once on term."""
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = t.groupBy("lang", "term").agg(F.count("*").alias("n"))
    nrm = tf.groupBy("lang").agg(
        F.sqrt(F.sum(F.col("n").cast("double") * F.col("n"))).alias("l2")
    )
    a = tf.select(
        F.col("lang").alias("lang_1"), "term", F.col("n").alias("n1")
    )
    b = tf.select(
        F.col("lang").alias("lang_2"), "term", F.col("n").alias("n2")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("lang_1") < F.col("lang_2"))
        .groupBy("lang_1", "lang_2")
        .agg(F.sum(F.col("n1").cast("double") * F.col("n2")).alias("dot"))
    )
    na = nrm.select(F.col("lang").alias("lang_1"), F.col("l2").alias("l2_1"))
    nb = nrm.select(F.col("lang").alias("lang_2"), F.col("l2").alias("l2_2"))
    return (
        dots.join(F.broadcast(na), "lang_1")
        .join(F.broadcast(nb), "lang_2")
        .select(
            "lang_1",
            "lang_2",
            F.round(F.col("dot") / (F.col("l2_1") * F.col("l2_2")), 6).alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d97 — corpus diagnostic: length↔token-count correlation per lang.
# ---------------------------------------------------------------------------
@spark_query(
    "d97_length_token_correlation",
    """
    WITH m AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS c,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS t
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(corr(c, t), 6) AS chars_tokens_corr
    FROM m GROUP BY 1
    """,
)
def d97_length_token_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between character length and token count
    per language — a tokenization sanity diagnostic (a language whose
    correlation collapses is being tokenized inconsistently, e.g.
    CJK segmenting vs whitespace). corr is a single partial-aggregable
    pass (sum, sum², cross-sum per group): one shuffle of 10 rows."""
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        F.col("n_chars").cast("double").alias("c"),
        F.array_size(
            F.filter(tokens("text"), lambda x: x != "")
        ).cast("double").alias("t"),
    )
    return m.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.corr("c", "t"), 6).alias("chars_tokens_corr"),
    )
