"""Corpus-statistics operator suite — the second wave of LLM-data-pipeline
extensions (SURVEY.md §8 "beyond-reference" table): language-model-style
scoring, chunking for training-window packing, source mixing, cross-lingual
vocabulary analysis, prefix-containment dedup, and a distribution-bucketing
relational query.

Scale notes shared by every plan here: the only corpus-global state any
query builds (the unigram model in d33, the per-language vocabulary sizes
in d36, the 1-row token total) is vocabulary-sized or smaller and is
broadcast back — the document-sized side never shuffles twice. No Python
UDFs; everything is built-in column expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# d33 — unigram log-probability scoring.
# The classic cheap LM-quality proxy: score each document by the mean
# log2-probability of its tokens under the corpus's own unigram
# distribution (low = rare/garbled text, high = stereotypical text).
# ---------------------------------------------------------------------------
@spark_query(
    "d33_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    counts AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
    total AS (SELECT count(*) AS total FROM t)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(log2(CAST(cnt AS DOUBLE) / total)), 6) AS avg_logprob
    FROM t JOIN counts USING (term), total
    GROUP BY doc_id
    """,
)
def d33_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-prob per document. Two aggregations over the
    exploded token stream, but the model that joins back (term → count)
    is vocabulary-sized → broadcast; the 1-row grand total rides along
    the same way. At 100 TB the token explode is the only big shuffle
    and it is partial-agg'd map-side on (doc_id)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").alias("total"))
    return (
        tok.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log2(F.col("cnt").cast("double") / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# d34 — fixed-size token chunking (training-window packing).
# ---------------------------------------------------------------------------
_CHUNK = 32


@spark_query(
    "d34_chunk_documents",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t) / {_CHUNK}.0) AS BIGINT))) AS i
      FROM toks
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(
             t[CAST(i*{_CHUNK}+1 AS BIGINT):CAST(i*{_CHUNK}+{_CHUNK} AS BIGINT)],
             ' ') AS chunk_text,
           len(t[CAST(i*{_CHUNK}+1 AS BIGINT):CAST(i*{_CHUNK}+{_CHUNK} AS BIGINT)])
             AS chunk_tokens
    FROM idx
    """,
)
def d34_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed 32-token chunks with a per-doc
    ordinal — the packing step before sequence training. Pure explode
    over a generated index array + slice: narrow (no shuffle at all),
    embarrassingly parallel, and the chunk ordinal is per-document so
    no global coordination is needed at any scale."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", text.tokens("text").alias("t"))
    n_chunks = F.ceil(F.array_size("t") / F.lit(float(_CHUNK))).cast("long")
    idx = t.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("i"),
    )
    chunk = F.slice(
        F.col("t"), (F.col("i") * _CHUNK + 1).cast("int"), F.lit(_CHUNK)
    )
    return idx.select(
        "doc_id",
        F.col("i").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.array_size(chunk).cast("long").alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# d35 — deterministic weighted source mixing.
# Curriculum/mixture sampling: each source s is kept at a rate derived
# from its id (srcN → (N % 5 + 1)/10, i.e. 10%..50%), decided by a
# portable content hash so the sample is reproducible on any engine.
# ---------------------------------------------------------------------------
_MIX_SALT = "mix|"


@spark_query(
    "d35_source_mixing",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {text.portable_hash_sql("'" + _MIX_SALT + "' || CAST(doc_id AS VARCHAR)", 1000)}
          < (CAST(substr(source, 4) AS INT) % 5 + 1) * 100
    """,
)
def d35_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-source downsampling with a deterministic keep rule
    (hash(doc_id) mod 1000 < rate·1000) — the mixture step that turns N
    raw sources into a training blend. A pure filter: pushes to the
    scan, no shuffle, and the decision is row-local so it scales
    linearly and replays identically (idempotent re-runs)."""
    d = _docs(spark, sf_dir)
    bucket = text.portable_hash(
        F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string")), 1000
    )
    rate_millis = (
        F.substring("source", 4, 10).cast("int") % 5 + 1
    ) * 100
    return d.filter(bucket < rate_millis).select("doc_id", "source")


# ---------------------------------------------------------------------------
# d36 — cross-language vocabulary overlap (pairwise Jaccard).
# ---------------------------------------------------------------------------
@spark_query(
    "d36_lang_vocab_overlap",
    """
    WITH tok AS (
      SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    v AS (SELECT lang, term FROM tok WHERE term <> ''),
    sizes AS (SELECT lang, count(*) AS sz FROM v GROUP BY lang),
    inter AS (
      SELECT a.lang AS lang_1, b.lang AS lang_2, count(*) AS n_common
      FROM v a JOIN v b ON a.term = b.term AND a.lang < b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT lang_1, lang_2, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (s1.sz + s2.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.lang = lang_1
    JOIN sizes s2 ON s2.lang = lang_2
    """,
)
def d36_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity between per-language vocabularies —
    the corpus-analysis view of how much surface form languages share.
    The distinct (lang, term) vocabulary is the only shuffled set; the
    language-pair intersection is a self-join on term (vocab-sized, not
    corpus-sized), and the per-language sizes broadcast back to a
    10-row result regardless of corpus scale."""
    d = _docs(spark, sf_dir)
    v = (
        d.select("lang", F.explode(text.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    sizes = v.groupBy("lang").agg(F.count("*").alias("sz"))
    a = v.select(F.col("lang").alias("lang_1"), "term")
    b = v.select(F.col("lang").alias("lang_2"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("lang_1") < F.col("lang_2"))
        .groupBy("lang_1", "lang_2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("lang").alias("lang_1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("lang").alias("lang_2"), F.col("sz").alias("sz2"))
    return (
        inter.join(F.broadcast(s1), "lang_1")
        .join(F.broadcast(s2), "lang_2")
        .select(
            "lang_1",
            "lang_2",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# d37 — prefix-containment dedup candidates.
# Catches truncation duplicates (one doc is a leading fragment of
# another) that exact-hash dedup (d01) misses because the hashes differ.
# ---------------------------------------------------------------------------
_PFX_BUCKET = 16


@spark_query(
    "d37_prefix_containment",
    f"""
    WITH d AS (
      SELECT doc_id, text, substr(text, 1, {_PFX_BUCKET}) AS b FROM documents
      WHERE length(text) >= {_PFX_BUCKET}
    )
    SELECT a.doc_id AS short_id, l.doc_id AS long_id
    FROM d a JOIN d l ON a.b = l.b
    WHERE starts_with(l.text, a.text)
      AND (length(l.text) > length(a.text)
           OR (length(l.text) = length(a.text) AND a.doc_id < l.doc_id))
    """,
)
def d37_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs (short, long) where the short document's full text is a
    prefix of the long one (ties broken by id so equal texts emit one
    direction). The equi-join key is the first 16 chars, so candidate
    groups are tiny prefix buckets — the quadratic compare never sees
    more than a bucket, and the bucket join shuffles on a short fixed-
    width key. A longer bucket (or a bucketed table) tightens it
    further at 100 TB; Catalyst keeps the startswith residual as a
    post-join filter.

    Scope: documents shorter than the 16-char bucket are excluded — a
    sub-bucket text's bucket equals its whole text and can never equi-
    match a full bucket, so rather than silently missing those pairs
    the operator filters them out explicitly. (At scale, sub-16-char
    docs are a tiny set to handle with a broadcast pass if needed.)"""
    d = _docs(spark, sf_dir).filter(F.length("text") >= _PFX_BUCKET)
    a = d.select(
        F.col("doc_id").alias("short_id"),
        F.col("text").alias("short_text"),
        F.substring("text", 1, _PFX_BUCKET).alias("b"),
    )
    l = d.select(
        F.col("doc_id").alias("long_id"),
        F.col("text").alias("long_text"),
        F.substring("text", 1, _PFX_BUCKET).alias("b"),
    )
    same_len_ordered = (
        F.length("long_text") == F.length("short_text")
    ) & (F.col("short_id") < F.col("long_id"))
    return (
        a.join(l, "b")
        .filter(
            F.col("long_text").startswith(F.col("short_text"))
            & ((F.length("long_text") > F.length("short_text")) | same_len_ordered)
        )
        .select("short_id", "long_id")
    )


# ---------------------------------------------------------------------------
# q37 — ntile distribution bucketing (A2-A5 family; the notebook's
# share-of-total analyses generalized to quantile buckets).
# ---------------------------------------------------------------------------
@spark_query(
    "q37_customer_value_quartiles",
    """
    WITH totals AS (
      SELECT o_custkey, sum(o_totalprice) AS total
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c_mktsegment, total,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY total, o_custkey) AS quartile
      FROM totals JOIN customer ON c_custkey = o_custkey
    )
    SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
           count(*) AS n_customers,
           round(avg(total), 2) AS avg_total
    FROM ranked GROUP BY c_mktsegment, quartile
    """,
)
def q37_customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value quartiles per market segment: aggregate
    order totals, ntile(4) within each segment (deterministic — the
    window orders by (total, custkey)), then the per-bucket profile.
    The window partitions by segment so it parallelizes across
    segments; the pre-aggregation shrinks the windowed set to one row
    per customer before any sort."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    totals = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total")
    )
    joined = totals.join(
        customer.select("c_custkey", "c_mktsegment"),
        totals.o_custkey == customer.c_custkey,
    )
    w = Window.partitionBy("c_mktsegment").orderBy("total", "o_custkey")
    ranked = joined.select(
        "c_mktsegment", "total", F.ntile(4).over(w).alias("quartile")
    )
    return ranked.groupBy(
        "c_mktsegment", F.col("quartile").cast("long").alias("quartile")
    ).agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("total"), 2).alias("avg_total"),
    )


# ---------------------------------------------------------------------------
# d38 — per-label embedding diversity via the variance identity.
# Mean pairwise squared L2 distance E||x−y||² = 2·Σ_d Var_pop(x_d):
# an O(n·d) aggregate instead of the O(n²·d) pairwise expansion.
# ---------------------------------------------------------------------------
@spark_query(
    "d38_embedding_diversity",
    """
    WITH e AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    pv AS (SELECT label, d, var_pop(v) AS pv FROM e GROUP BY label, d),
    n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label, n_vecs,
           round(2 * sum(pv), 6) AS diversity
    FROM pv JOIN n USING (label)
    GROUP BY label, n_vecs
    """,
)
def d38_embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How spread out is each label's embedding cluster? Computed via
    the identity E||x−y||² = 2·Σ_d Var(x_d), so the whole statistic is
    one posexplode + two partial-aggregating groupBys — linear in rows,
    never materializing a pair. At 100 TB the shuffle carries only
    (label, dim) moment partials: 10 labels × 64 dims regardless of
    corpus size."""
    e = _emb(spark, sf_dir)
    exploded = e.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("d", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    pv = exploded.groupBy("label", "d").agg(F.var_pop("v").alias("pv"))
    n = e.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count("*").alias("n_vecs")
    )
    return (
        pv.groupBy("label")
        .agg(F.round(2 * F.sum("pv"), 6).alias("diversity"))
        .join(F.broadcast(n), "label")
        .select("label", "n_vecs", "diversity")
    )


# ---------------------------------------------------------------------------
# d39 — int8 scalar quantization of the embedding column.
# The storage/serving compression step: per-dimension [min, max] range
# over the corpus, each value mapped to an 8-bit code.
# ---------------------------------------------------------------------------
@spark_query(
    "d39_embedding_quantize",
    """
    WITH e AS (
      SELECT vec_id,
             unnest(range(0, len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    stats AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim)
    SELECT vec_id, CAST(dim AS BIGINT) AS dim,
           CAST(CASE WHEN mx > mn
                THEN least(floor((v - mn) / (mx - mn) * 256), 255)
                ELSE 0 END AS BIGINT) AS code
    FROM e JOIN stats USING (dim)
    """,
)
def d39_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization: codes = floor((v − min_d)/(max_d −
    min_d) · 256) clamped to [0, 255]. The per-dimension stats table is
    64 rows → broadcast back; the value pass is then shuffle-free and
    row-local. All arithmetic is IEEE double on both engines, so codes
    are bit-exact reproducible — a requirement for a quantized index
    that multiple systems must agree on."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    stats = e.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.floor((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 256),
            F.lit(255),
        ),
    ).otherwise(0)
    return (
        e.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            code.cast("long").alias("code"),
        )
    )


# ---------------------------------------------------------------------------
# q38 — percent_rank ladder (supplier revenue standing within nation).
# ---------------------------------------------------------------------------
@spark_query(
    "q38_supplier_revenue_rank",
    """
    WITH rev AS (
      -- EXACT decimal money arithmetic: prices/discounts are 2-decimal
      -- amounts, so the per-supplier revenue sum is an integer number
      -- of 10^-4 units — order-independent and bit-identical across
      -- engines at ANY scale (double summation ties at the half-cent
      -- flipped rank order in the 10x sweep).
      SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                  AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, n_name, revenue,
           round(percent_rank() OVER (PARTITION BY n_name
                 ORDER BY revenue, s_suppkey), 6) AS pct_rank
    FROM rev
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    """,
)
def q38_supplier_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each supplier's revenue percentile within its nation. The
    revenue sort key is computed in EXACT decimal money arithmetic
    (cast to DECIMAL(18,2) before multiply/sum): prices and discounts
    are 2-decimal amounts, so the sum is an integer number of 10^-4
    units — order-independent, engine-identical at any scale, and
    still a partial-aggregable JVM-side sum. (The earlier
    round-after-double-sum form hit half-cent summation ties in the
    round-5 10× sweep, flipping rank order between engines;
    rounding can't fix a tie that the summation order itself moves.)
    (revenue, suppkey) makes the order total. The rank window
    partitions by nation → parallel across nations, and it ranks the
    pre-aggregated supplier rollup, not raw lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dec = "decimal(18,2)"
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast(dec)
                * (F.lit(1).cast(dec) - F.col("l_discount").cast(dec))
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )
    joined = rev.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        rev.l_suppkey == F.col("s_suppkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    w = Window.partitionBy("n_name").orderBy("revenue", "s_suppkey")
    return joined.select(
        "s_suppkey",
        "n_name",
        "revenue",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# q39 — correlated-subquery shape: orders above their customer's mean.
# The classic `WHERE price > (SELECT avg(...) ... same customer)`
# decorrelated into a window aggregate — one pass, no rejoin.
# ---------------------------------------------------------------------------
@spark_query(
    "q39_orders_above_customer_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             round(avg(o_totalprice) OVER (PARTITION BY o_custkey), 6)
               AS cust_avg,
             count(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM orders
    )
    WHERE n_orders >= 2 AND o_totalprice > cust_avg
    """,
)
def q39_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their own customer's average order value —
    the correlated-scalar-subquery pattern, decorrelated into a single
    window aggregate so the fact table is read once and shuffled once
    (by customer). Single-order customers are excluded (their order
    equals the mean by construction)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.round(F.avg("o_totalprice").over(w), 6).alias("cust_avg"),
            F.count("*").over(w).alias("n_orders"),
        )
        .filter((F.col("n_orders") >= 2) & (F.col("o_totalprice") > F.col("cust_avg")))
        .drop("n_orders")
    )


# ---------------------------------------------------------------------------
# q40 — EXISTS subquery as a left-semi join.
# ---------------------------------------------------------------------------
@spark_query(
    "q40_customers_with_urgent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def q40_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`WHERE EXISTS (...)` expressed as a LEFT SEMI join — the probe
    side never duplicates (a customer with five urgent orders appears
    once, with no distinct needed) and Spark only ships the join key of
    the subquery side. The urgent-order filter pushes into the orders
    scan before the shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(urgent, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# q41 — CUBE with grouping_id (all margin combinations in one pass).
# ---------------------------------------------------------------------------
@spark_query(
    "q41_status_priority_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q41_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four margin combinations of (status, priority) in one CUBE
    pass — Spark expands the grouping sets inside a single partial+
    final hash aggregate instead of four scans + union. ``grouping_id``
    disambiguates a real NULL group key from a rolled-up margin (the
    standard CUBE pitfall)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price"
        )
    )


# ---------------------------------------------------------------------------
# q42 — INTERSECT: retained customers across consecutive years.
# ---------------------------------------------------------------------------
@spark_query(
    "q42_retained_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q42_retained_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both 1995 and 1996 — INTERSECT, which Spark
    plans as an aggregate + semi join on the deduplicated key sets (no
    full cross-year materialization). The year filters prune at the
    scan; at 100 TB with date-partitioned orders this reads exactly two
    year partitions."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# q43 — ordered funnel (view → click → purchase, first-touch).
# ---------------------------------------------------------------------------
@spark_query(
    "q43_event_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, count(*) AS n_users FROM v
    UNION ALL SELECT 'click', count(*) FROM c
    UNION ALL SELECT 'purchase', count(*) FROM p
    """,
)
def q43_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel: users whose first view precedes a
    later click precedes a later purchase, counted per stage. Each
    stage is one filtered aggregation joined to the (user, ts) frontier
    of the previous stage — the frontier shrinks monotonically, and at
    scale each broadcastable frontier turns the next stage into scan +
    broadcast join + partial agg (no event-table shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count("*").alias("n_users")
        )
    return stage("view", v).union(stage("click", c)).union(stage("purchase", p))


# ---------------------------------------------------------------------------
# d41 — count-min sketch heavy hitters.
# ---------------------------------------------------------------------------
_CM_DEPTH, _CM_WIDTH = 3, 512


def _cm_bucket_sql(term_expr: str, row_expr: str = "row") -> str:
    return (
        "("
        + text.portable_hash_sql(
            f"'cm' || CAST({row_expr} AS VARCHAR) || '|' || {term_expr}"
        )
        + f" % {_CM_WIDTH})"
    )


@spark_query(
    "d41_countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT term FROM toks WHERE term <> ''),
    expl AS (SELECT term, unnest(range(0, {_CM_DEPTH})) AS row FROM t),
    cm AS (
      SELECT row, {_cm_bucket_sql('term')} AS bucket, count(*) AS n
      FROM expl GROUP BY 1, 2
    ),
    top AS (
      SELECT term, count(*) AS true_count FROM t GROUP BY term
      ORDER BY true_count DESC, term ASC LIMIT 20
    ),
    probes AS (
      SELECT term, true_count, unnest(range(0, {_CM_DEPTH})) AS row FROM top
    )
    SELECT p.term, p.true_count, min(cm.n) AS est_count
    FROM probes p JOIN cm
      ON cm.row = p.row AND cm.bucket = {_cm_bucket_sql('p.term', 'p.row')}
    GROUP BY p.term, p.true_count
    """,
)
def d41_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (3×512 counters, portable hash) point-queried
    for the exact top-20 terms: (term, true_count, est_count). The
    sketch is fixed-memory however large the corpus — the operators in
    operators/sketch.py also merge by counter addition for streams.
    The oracle rebuilds the identical sketch in SQL, so estimates are
    bit-exact, not just statistically close."""
    from ..operators.sketch import countmin_estimate, countmin_table

    tok = _docs(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    cm = countmin_table(tok, "term", _CM_DEPTH, _CM_WIDTH)
    top = (
        tok.groupBy("term")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("term").asc())
        .limit(20)
    )
    return countmin_estimate(cm, top, "term", _CM_DEPTH, _CM_WIDTH)


# ---------------------------------------------------------------------------
# d42 — shingle containment (asymmetric near-dup: sub-document dup).
# ---------------------------------------------------------------------------
@spark_query(
    "d42_shingle_containment",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id, n_common,
           round(CAST(n_common AS DOUBLE) / ca.n, 6) AS containment
    FROM inter JOIN cnt ca ON inter.contained_id = ca.doc_id
    WHERE round(CAST(n_common AS DOUBLE) / ca.n, 6) >= 0.9
    """,
)
def d42_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: doc A's shingles ≥90% inside doc B.
    Jaccard (d06) misses a paragraph pasted into a bigger page; the
    asymmetric containment score is the curation-standard complement
    (operators/dedup.py::shingle_containment_pairs). Served from the
    shared ranked-shingle substrate since round 6 — the same artifact
    d06/d126 read; the asymmetric prefix/residual logic is unchanged
    (equivalence pinned in tests/test_text_substrate.py)."""
    from ..operators import text_substrate

    return text_substrate.containment_pairs(spark, sf_dir, threshold=0.9)


# ---------------------------------------------------------------------------
# d43 — fuzzy leading-text match (bounded edit distance).
# ---------------------------------------------------------------------------
_FZ_BUCKET, _FZ_HEAD, _FZ_MAXDIST = 8, 32, 4


@spark_query(
    "d43_fuzzy_prefix_match",
    f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, {_FZ_HEAD}) AS head,
             substr(text, 1, {_FZ_BUCKET}) AS b
      FROM documents WHERE length(text) >= {_FZ_BUCKET}
    )
    SELECT a.doc_id AS doc_id_1, l.doc_id AS doc_id_2,
           CAST(levenshtein(a.head, l.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d l ON a.b = l.b AND a.doc_id < l.doc_id
    WHERE levenshtein(a.head, l.head) <= {_FZ_MAXDIST}
    """,
)
def d43_fuzzy_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs whose leading 32 chars are within edit distance 4 —
    the typo-tolerant variant of prefix dedup (d37). Levenshtein is
    O(len²) per pair, so the plan bounds candidates FIRST with an
    8-char exact-bucket equi-join; the DP runs only inside buckets as a
    post-join residual. Same filter-before-compute shape as the LSH
    dedup family; pairs come from ``dedup.salted_block_pairs`` so a
    hot prefix bucket splits into sub-block tasks instead of one
    join-key straggler (the d69 finding from the 100× sweep — this
    query shares the blocked-linkage shape)."""
    from ..operators import dedup as dedup_ops

    d = _docs(spark, sf_dir).filter(F.length("text") >= _FZ_BUCKET).select(
        "doc_id",
        F.substring("text", 1, _FZ_HEAD).alias("head"),
        F.substring("text", 1, _FZ_BUCKET).alias("b"),
    )
    pairs = dedup_ops.salted_block_pairs(d, ["b"], id_col="doc_id")
    # bounded Levenshtein: exact for dist <= threshold, -1 beyond —
    # identical kept set/values on a banded DP
    return (
        pairs.withColumn(
            "edit_dist",
            F.levenshtein(
                F.col("a.head"), F.col("b.head"), _FZ_MAXDIST
            ).cast("long"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _FZ_MAXDIST))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_id_1"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_id_2"),
            "edit_dist",
        )
    )


# ---------------------------------------------------------------------------
# q44 — EXCEPT: churned customers (completes the set-op family).
# ---------------------------------------------------------------------------
@spark_query(
    "q44_churned_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q44_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who ordered in 1995 but not in 1996 — EXCEPT, planned
    as a distinct + left-anti join on the key sets. Pairs with q42
    (INTERSECT) to close out the set-operation family; same two-
    partition pruned scan shape."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 1996).select("o_custkey")
    return a.subtract(b)


# ---------------------------------------------------------------------------
# d44 — bigram conditional log-probability (the LM-scoring ladder's
# second rung: P(w_i | w_{i-1}) instead of P(w_i)).
# ---------------------------------------------------------------------------
@spark_query(
    "d44_bigram_logprob",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS prev
      FROM toks WHERE len(t) >= 2
    ),
    bc AS (SELECT bigram, count(*) AS bn FROM bg GROUP BY bigram),
    pc AS (SELECT prev, count(*) AS pn FROM bg GROUP BY prev)
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(log2(CAST(bn AS DOUBLE) / pn)), 6) AS avg_logprob
    FROM bg JOIN bc USING (bigram) JOIN pc USING (prev)
    GROUP BY doc_id
    """,
)
def d44_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean conditional bigram log-prob per document: P(w_i|w_{i-1}) =
    c(w_{i-1} w_i) / c(w_{i-1} as a bigram head), estimated from the
    corpus itself. Both model tables (bigram counts and head counts)
    are vocabulary²-bounded but near-vocabulary-sized in practice →
    broadcast back over the bigram stream; one shuffle for the per-doc
    aggregate. The slice+zip_with shingle trick (operators/dedup.py)
    builds bigrams without interpreted per-index lambdas."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", text.tokens("text").alias("t")).filter(
        F.array_size("t") >= 2
    )
    # bigrams = zip of t[0..n-2] with t[1..n-1]; prev = the head token
    bg = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.array_size("t") - 1),
                F.slice("t", 2, F.array_size("t") - 1),
                lambda a, b: F.struct(
                    F.concat_ws(" ", a, b).alias("bigram"), a.alias("prev")
                ),
            )
        ).alias("z"),
    ).select("doc_id", "z.bigram", "z.prev")
    bc = bg.groupBy("bigram").agg(F.count("*").alias("bn"))
    pc = bg.groupBy("prev").agg(F.count("*").alias("pn"))
    return (
        bg.join(F.broadcast(bc), "bigram")
        .join(F.broadcast(pc), "prev")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log2(F.col("bn").cast("double") / F.col("pn"))), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — percentile winsorization (robust clipping, complements the
# z-score filter q36 which drops rows instead of clamping them).
# ---------------------------------------------------------------------------
@spark_query(
    "q45_winsorize_lengths",
    """
    WITH p AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY lang
    )
    SELECT doc_id, lang, n_chars,
           round(greatest(p05, least(p95, CAST(n_chars AS DOUBLE))), 6)
             AS clipped
    FROM documents JOIN p USING (lang)
    """,
)
def q45_winsorize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize document lengths to each language's [p05, p95]:
    outliers are clamped, not dropped (vs q36's z-score filter). The
    per-language percentile table is one row per language → broadcast
    back; clipping is then row-local. Spark's exact ``percentile``
    matches DuckDB's ``quantile_cont`` interpolation bit-for-bit
    (same linear rule), so the clamp bounds agree across engines."""
    d = _docs(spark, sf_dir)
    p = d.groupBy("lang").agg(
        F.percentile("n_chars", 0.05).alias("p05"),
        F.percentile("n_chars", 0.95).alias("p95"),
    )
    return d.join(F.broadcast(p), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(
            F.greatest(
                "p05", F.least("p95", F.col("n_chars").cast("double"))
            ),
            6,
        ).alias("clipped"),
    )


# ---------------------------------------------------------------------------
# q46 — EWMA smoothing over an event stream (bounded-window Horner fold).
# ---------------------------------------------------------------------------
_EWMA_ALPHA, _EWMA_WINDOW = 0.5, 5


@spark_query(
    "q46_ewma_values",
    f"""
    SELECT event_id, user_id, ts,
           round(
             list_reduce(list_prepend(CAST(0 AS DOUBLE), l),
                         (acc, v) -> acc * {_EWMA_ALPHA} + v)
             / ((1 - pow({_EWMA_ALPHA}, len(l))) / (1 - {_EWMA_ALPHA})),
             6) AS ewma
    FROM (
      SELECT event_id, user_id, ts,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS l
      FROM events
    )
    """,
)
def q46_ewma_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values over the trailing 5 events. True EWMA is a per-row
    recurrence (not a plain window aggregate in either engine); the
    bounded-window form collects the frame and evaluates the weighted
    sum as one left fold — Horner's rule gives Σ v_j·α^(m-1-j) without
    materializing weights. Identical fold order on both engines →
    bit-comparable before the final rounding. The frame is 5 values, so
    the collected array cost is constant per row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_WINDOW - 1), 0)
    )
    l = F.collect_list("value").over(w)
    fold = F.aggregate(
        l, F.lit(0.0), lambda acc, v: acc * _EWMA_ALPHA + v
    )
    norm = (1 - F.pow(F.lit(_EWMA_ALPHA), F.size(l))) / (1 - _EWMA_ALPHA)
    return ev.select(
        "event_id", "user_id", "ts", F.round(fold / norm, 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# q47 — equal-width histogram (per-language length distribution).
# ---------------------------------------------------------------------------
@spark_query(
    "q47_length_histogram",
    """
    SELECT lang, CAST(floor(n_chars / 50) AS BIGINT) * 50 AS bucket_lo,
           count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def q47_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length histogram in 50-char buckets per language — the profiling
    primitive behind every length-filter threshold choice. Bucketing is
    row-local math, then one partial+final count agg on (lang, bucket):
    the shuffle carries only the (tiny) histogram, not documents."""
    d = _docs(spark, sf_dir)
    return d.groupBy(
        "lang",
        (F.floor(F.col("n_chars") / 50).cast("long") * 50).alias("bucket_lo"),
    ).agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# q48 — semi-structured extraction: JSON payload column → typed stats.
# ---------------------------------------------------------------------------
@spark_query(
    "q48_json_payload_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
             AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q48_json_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the typed field from the JSON ``props`` payload and
    aggregate it per event type — the semi-structured-column pattern
    (the reference's S3/S7 JSON parsing, generalized to a per-row
    payload). ``get_json_object`` evaluates JVM-side inside codegen; at
    scale prefer parsing ONCE into a struct column (``from_json`` at
    ingest) over re-parsing per query — this query is the probe face."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# q49 — unpivot / melt (wide measures → long form).
# ---------------------------------------------------------------------------
@spark_query(
    "q49_unpivot_order_measures",
    """
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_price,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM wide
    UNION ALL
    SELECT o_orderstatus, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT o_orderstatus, 'avg_price', avg_price FROM wide
    """,
)
def q49_unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse of pivot (d27): per-status wide measures melted into
    (status, measure, value) long form with ``DataFrame.unpivot`` —
    Spark plans it as a single Expand over the aggregated (tiny) wide
    table, not one scan per measure; the oracle states the same thing
    as UNION ALL."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "sum_price", "avg_price"],
        "measure",
        "value",
    )


# ---------------------------------------------------------------------------
# d45 — per-label medoid (the representative embedding).
# ---------------------------------------------------------------------------
@spark_query(
    "d45_label_medoids",
    """
    WITH e AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    c AS (SELECT label, d, avg(v) AS cv FROM e GROUP BY label, d),
    dist AS (
      SELECT e.vec_id, e.label, sum((e.v - c.cv) * (e.v - c.cv)) AS d2
      FROM e JOIN c ON c.label = e.label AND c.d = e.d
      GROUP BY e.vec_id, e.label
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id AS medoid_id,
           round(d2, 6) AS dist2
    FROM (
      SELECT label, vec_id, d2,
             row_number() OVER (PARTITION BY label
                 ORDER BY d2, vec_id) AS rn
      FROM dist
    ) WHERE rn = 1
    """,
)
def d45_label_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The representative vector per label: the member closest to its
    label centroid (centroid-nearest medoid) — semantic dedup's "keep
    one per cluster" decision. Centroids (10 labels × 64 dims) come
    from one partial-agg pass and broadcast back; distances are one
    more partial agg; the final argmin is a per-label window over one
    row per vector. Ties break on vec_id so the pick is deterministic
    across engines."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("d", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    c = e.groupBy("label", "d").agg(F.avg("v").alias("cv"))
    dist = (
        e.join(F.broadcast(c), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(F.sum((F.col("v") - F.col("cv")) ** 2).alias("d2"))
    )
    w = Window.partitionBy("label").orderBy("d2", "vec_id")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("vec_id").alias("medoid_id"),
            F.round("d2", 6).alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# q50 — MAD robust outliers (median absolute deviation).
# The robust complement to q36's z-score filter: median/MAD are immune
# to the very outliers being hunted (a single 10^9-char doc shifts a
# mean+stddev fence, not a median+MAD one).
# ---------------------------------------------------------------------------
@spark_query(
    "q50_mad_outliers",
    """
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY lang
    ),
    mad AS (
      SELECT lang,
             quantile_cont(abs(n_chars - med), 0.5) AS mad, med
      FROM documents JOIN med USING (lang)
      GROUP BY lang, med
    )
    SELECT doc_id, lang, n_chars,
           round(0.6745 * (n_chars - med) / mad, 6) AS robust_z
    FROM documents JOIN mad USING (lang)
    WHERE mad > 0
      AND abs(round(0.6745 * (n_chars - med) / mad, 6)) > 1.2
    """,
)
def q50_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length outliers by modified z-score: 0.6745·(x−median)/MAD >
    threshold, per language. (Canonical cut for normal data is 3.5; the
    bounded-uniform synthetic lengths cap robust_z below ~1.8, so the
    demo fence is 1.2 — the threshold is the only tunable.) Two exact-percentile passes (median, then median
    of absolute deviations) — each produces a languages-sized table
    that broadcasts back, so the document side is scanned twice and
    shuffled never. Spark ``percentile`` and DuckDB ``quantile_cont``
    share the interpolation rule, so the fences agree exactly."""
    d = _docs(spark, sf_dir)
    med = d.groupBy("lang").agg(F.percentile("n_chars", 0.5).alias("med"))
    mad = (
        d.join(F.broadcast(med), "lang")
        .groupBy("lang", "med")
        .agg(
            F.percentile(F.abs(F.col("n_chars") - F.col("med")), 0.5)
            .alias("mad")
        )
    )
    rz = F.round(
        0.6745 * (F.col("n_chars") - F.col("med")) / F.col("mad"), 6
    )
    return (
        d.join(F.broadcast(mad), "lang")
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", rz)
        .filter(F.abs(F.col("robust_z")) > 1.2)
        .select("doc_id", "lang", "n_chars", "robust_z")
    )


# ---------------------------------------------------------------------------
# d46 — n-gram novelty: how much NEW surface form each doc contributes.
# ---------------------------------------------------------------------------
@spark_query(
    "d46_ngram_novelty",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    first_seen AS (SELECT bigram, min(doc_id) AS first_doc FROM bg GROUP BY bigram)
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS novelty
    FROM bg JOIN first_seen USING (bigram)
    GROUP BY doc_id
    """,
)
def d46_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of its distinct bigrams that
    FIRST appear in it (ingestion order = doc_id). High-novelty docs
    add new surface form to the corpus; near-zero novelty marks
    recombinations of existing text — the incremental-curation signal
    that complements pairwise dedup. The first-occurrence table is one
    min-aggregate over the bigram stream (vocabulary-bounded →
    broadcast back); no pairwise work anywhere."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", text.tokens("text").alias("t")).filter(
        F.array_size("t") >= 2
    )
    bg = t.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.array_size("t") - 1),
                F.slice("t", 2, F.array_size("t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    ).distinct()
    first_seen = bg.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        bg.join(F.broadcast(first_seen), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 6).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# q51 — sessionized conversion rate (session windows → per-user rate).
# ---------------------------------------------------------------------------
@spark_query(
    "q51_session_conversion",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, session_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM flagged GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
             AS conversion_rate
    FROM sessions GROUP BY user_id
    """,
)
def q51_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate per user over 30-minute-gap sessions: sessionize
    with ``F.session_window`` (the same operator behind s02, so the
    streaming path shares this exact plan), mark sessions containing a
    purchase, aggregate per user. Two shuffles total: the session
    grouping and the per-user rollup; the oracle states sessionization
    as gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("converted").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count("*"), 6
        ).alias("conversion_rate"),
    )


# ---------------------------------------------------------------------------
# q52 — skyline / Pareto frontier (earliest date, highest price).
# ---------------------------------------------------------------------------
@spark_query(
    "q52_pareto_orders",
    """
    WITH o AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS day
      FROM orders
    ),
    m AS (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             max(o_totalprice) OVER (ORDER BY day
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_before,
             max(o_totalprice) OVER (PARTITION BY day) AS max_same_day
      FROM o
    )
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM m
    WHERE (max_before IS NULL OR max_before < o_totalprice)
      AND max_same_day <= o_totalprice
    """,
)
def q52_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto frontier of orders on (earlier date, higher price): an
    order survives iff no strictly-earlier order matches its price and
    no same-day order beats it. The textbook skyline is an O(n²)
    NOT-EXISTS self-join; this plan first collapses to one row per DAY
    (partial-agg max), runs the running-max window over that — a table
    bounded by the date domain, never by data volume, so the window's
    single partition holds thousands of rows at 100 TB, not trillions —
    and broadcasts the per-day fences back for a row-local filter. (A
    direct ``Window.orderBy(day)`` over the fact table would collapse
    ALL rows to one partition — the renumber-operator anti-pattern.)"""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        (F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    day_max = o.groupBy("day").agg(F.max("o_totalprice").alias("max_same_day"))
    w_before = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    fences = day_max.select(
        "day",
        "max_same_day",
        F.max("max_same_day").over(w_before).alias("max_before"),
    )
    return (
        o.join(F.broadcast(fences), "day")
        .filter(
            (
                F.col("max_before").isNull()
                | (F.col("max_before") < F.col("o_totalprice"))
            )
            & (F.col("max_same_day") <= F.col("o_totalprice"))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# d47 — histogram-sketch quantiles (mergeable approximate percentiles).
# Completes the sketch trio: KMV (d28, distinct), count-min (d41,
# frequency), histogram (quantiles) — all deterministic, all mergeable
# by counter addition, all oracle-checkable bit-for-bit.
# ---------------------------------------------------------------------------
@spark_query(
    "d47_histogram_quantiles",
    """
    WITH h AS (
      SELECT lang, CAST(floor(n_chars / 50) AS BIGINT) AS b,
             count(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, b, n,
             sum(n) OVER (PARTITION BY lang ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY lang) AS total
      FROM h
    ),
    hit AS (
      SELECT lang, min(b) AS qb FROM c
      WHERE cum >= 0.5 * total GROUP BY lang
    )
    SELECT c.lang,
           CAST(qb * 50 AS DOUBLE) +
           50.0 * (0.5 * c.total - (c.cum - c.n)) / c.n AS est_median
    FROM c JOIN hit ON c.lang = hit.lang AND c.b = hit.qb
    """,
)
def d47_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-language median from the 50-char histogram
    (uniform-within-bucket interpolation). The sketch is the histogram
    itself — fixed memory, sum-mergeable across partitions/streams, and
    the estimate is a deterministic function of the counters, so the
    oracle checks it exactly (vs engine-specific t-digest/HLL, which
    never cross-check). Error is bounded by the bucket width."""
    d = _docs(spark, sf_dir)
    h = d.groupBy(
        "lang", F.floor(F.col("n_chars") / 50).cast("long").alias("b")
    ).agg(F.count("*").alias("n"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    c = h.select(
        "lang",
        "b",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    hit = (
        c.filter(F.col("cum") >= 0.5 * F.col("total"))
        .groupBy("lang")
        .agg(F.min("b").alias("qb"))
        .select(F.col("lang").alias("__hl"), "qb")
    )
    return (
        c.join(
            F.broadcast(hit),
            (F.col("lang") == F.col("__hl")) & (F.col("b") == F.col("qb")),
        )
        .select(
            "lang",
            (
                (F.col("qb") * 50).cast("double")
                + 50.0
                * (0.5 * F.col("total") - (F.col("cum") - F.col("n")))
                / F.col("n")
            ).alias("est_median"),
        )
    )


# ---------------------------------------------------------------------------
# d48 — windowed KMV: distinct users per day, sketch vs exact.
# ---------------------------------------------------------------------------
_KMV_K = 64


@spark_query(
    "d48_daily_distinct_kmv",
    f"""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id,
             {text.portable_hash_sql("'kmv|' || CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    d AS (SELECT DISTINCT day, h FROM e),
    ranked AS (
      SELECT day, h,
             row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM d
    ),
    sk AS (
      SELECT day, count(*) AS k, max(h) AS kth
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY day
    ),
    exact AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     count(DISTINCT user_id) AS exact_distinct
              FROM events GROUP BY 1)
    SELECT day, exact_distinct, k,
           round((k - 1) * {text.HASH_MOD}.0 / kth, 6) AS est_distinct
    FROM sk JOIN exact USING (day)
    """,
)
def d48_daily_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day, estimated by a per-window KMV sketch
    (k=64 minimum hash values) next to the exact count. The windowed
    form is what a streaming rollup keeps: per window, k hashes —
    mergeable by taking the k smallest of a union, so late data and
    partial re-aggregation compose. Per-day top-k is a bounded window
    (rows = distinct users per day); the estimate is deterministic via
    the portable hash, hence exactly oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        text.portable_hash(
            F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("day").orderBy("h")
    sk = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("day")
        .agg(F.count("*").alias("k"), F.max("h").alias("kth"))
    )
    exact = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sk.join(exact, "day")
        .select(
            "day",
            "exact_distinct",
            "k",
            F.round(
                (F.col("k") - 1) * F.lit(float(text.HASH_MOD)) / F.col("kth"), 6
            ).alias("est_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# d53 — cross-lingual near-dup mining (translation-pair candidates).
# ---------------------------------------------------------------------------
_XL_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_XL_NORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


@spark_query(
    "d53_translation_candidates",
    f"""
    WITH cos AS (
      SELECT a.vec_id AS id_1, b.vec_id AS id_2,
             round({_XL_DOT} / ({_XL_NORM.format(v='a')} * {_XL_NORM.format(v='b')}), 6)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_1, id_2, d1.lang AS lang_1, d2.lang AS lang_2, cos_sim
    FROM cos
    JOIN documents d1 ON d1.doc_id = id_1
    JOIN documents d2 ON d2.doc_id = id_2
    WHERE cos_sim >= 0.4 AND d1.lang <> d2.lang
    """,
)
def d53_translation_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual mining: embedding pairs that are near-duplicates in
    vector space but written in DIFFERENT languages — the candidate set
    for parallel-corpus extraction (and for "same content, different
    language" dedup policy decisions). Same cosine contract as the
    naive all-pairs twin, computed through the blocked kernel: vectors
    hash into block-pair tasks (each holding both blocks ONCE) and the
    chunked numpy cosine emits only near-threshold survivors — the n²
    arithmetic the oracle demands runs vectorized inside tasks instead
    of per-pair through a theta join. The (doc_id → lang) dimension
    broadcasts onto the surviving pairs; the language filter is
    unchanged."""
    from ..operators import similarity

    e = _emb(spark, sf_dir)
    pairs = similarity.near_duplicate_pairs_blocked(e, threshold=0.4)
    langs = _docs(spark, sf_dir).select(
        F.col("doc_id"), F.col("lang")
    )
    l1 = langs.select(
        F.col("doc_id").alias("id_1"), F.col("lang").alias("lang_1")
    )
    l2 = langs.select(
        F.col("doc_id").alias("id_2"), F.col("lang").alias("lang_2")
    )
    return (
        pairs.join(F.broadcast(l1), "id_1")
        .join(F.broadcast(l2), "id_2")
        .filter(F.col("lang_1") != F.col("lang_2"))
        .select("id_1", "id_2", "lang_1", "lang_2", "cos_sim")
    )


# ---------------------------------------------------------------------------
# d52 — per-source KL divergence from the corpus token distribution.
# The drift monitor: which source's language deviates most from the
# blend (new crawl gone wrong, wrong-language source, template spam).
# ---------------------------------------------------------------------------
@spark_query(
    "d52_source_kl_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT source, term FROM tok WHERE term <> ''),
    sc AS (SELECT source, term, count(*) AS sn FROM t GROUP BY source, term),
    stot AS (SELECT source, count(*) AS st FROM t GROUP BY source),
    cc AS (SELECT term, count(*) AS cn FROM t GROUP BY term),
    ctot AS (SELECT count(*) AS ct FROM t)
    SELECT source,
           round(sum((CAST(sn AS DOUBLE) / st)
                     * log2((CAST(sn AS DOUBLE) / st)
                            / (CAST(cn AS DOUBLE) / ct))), 6) AS kl_bits
    FROM sc JOIN stot USING (source) JOIN cc USING (term) CROSS JOIN ctot
    GROUP BY source
    """,
)
def d52_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions, in bits — the
    standard distribution-shift monitor for a multi-source blend. (KL is
    finite here by construction: every source term is in the corpus
    distribution.) Both models are vocabulary-sized aggregates; the
    corpus model broadcasts back onto the per-source counts, and the
    divergence is one partial-agg sum per source — the whole monitor is
    two passes over the token stream at any corpus size."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "source", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    sc = tok.groupBy("source", "term").agg(F.count("*").alias("sn"))
    stot = tok.groupBy("source").agg(F.count("*").alias("st"))
    cc = tok.groupBy("term").agg(F.count("*").alias("cn"))
    ctot = tok.agg(F.count("*").alias("ct"))
    p_s = F.col("sn").cast("double") / F.col("st")
    p_c = F.col("cn").cast("double") / F.col("ct")
    return (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(cc), "term")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(F.round(F.sum(p_s * F.log2(p_s / p_c)), 6).alias("kl_bits"))
    )


# ---------------------------------------------------------------------------
# q53 — rolling median (robust smoothing; the median twin of q46's EWMA).
# ---------------------------------------------------------------------------
@spark_query(
    "q53_rolling_median",
    f"""
    SELECT event_id, user_id, ts,
           round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW),
             6) AS rolling_median
    FROM events
    """,
)
def q53_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of each user's trailing 5 event values —
    the robust-smoothing twin of q46 (a single spike moves an EWMA,
    not a median). ``percentile`` runs as a true window aggregate over
    the bounded frame, partitioned per user, and its interpolation rule
    matches DuckDB's ``quantile_cont`` exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_WINDOW - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.percentile("value", 0.5).over(w), 6).alias("rolling_median"),
    )


# ---------------------------------------------------------------------------
# q54 — cohort retention triangle.
# ---------------------------------------------------------------------------
@spark_query(
    "q54_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week,
                  date_trunc('week', e.ts)) / 7.0) AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_active
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def q54_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention triangle: users cohorted by first-activity week,
    counted per (cohort, weeks-since-first) cell — the standard
    engagement report. The per-user cohort table is one min-aggregate
    (users-sized → broadcast back); activity dedup + the cell count are
    partial-aggregated, so the events table is scanned twice and never
    shuffled raw."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7.0
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )


# ---------------------------------------------------------------------------
# q55 — lag-1 autocorrelation per user (periodicity / trend detector).
# ---------------------------------------------------------------------------
@spark_query(
    "q55_value_autocorrelation",
    """
    WITH lagged AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_value
      FROM events
    )
    SELECT user_id, count(*) AS n_pairs,
           round(corr(value, prev_value), 6) AS lag1_corr
    FROM lagged WHERE prev_value IS NOT NULL
    GROUP BY user_id
    HAVING count(*) >= 10
    """,
)
def q55_value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between consecutive event values per user —
    the cheap periodicity/trend detector (≈0 for i.i.d. noise, high for
    trending or cyclic signals). One lag window partitioned by user,
    one co-moment aggregate; both engines use the same co-moment
    formula, so rounded values agree exactly. Users with fewer than 10
    consecutive pairs are dropped (the estimate is noise below that)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev_value")
    ).filter(F.col("prev_value").isNotNull())
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.corr("value", "prev_value"), 6).alias("lag1_corr"),
        )
        .filter(F.col("n_pairs") >= 10)
    )


# ---------------------------------------------------------------------------
# q56 — hierarchical percent-of-parent (region → nation revenue shares).
# ---------------------------------------------------------------------------
@spark_query(
    "q56_revenue_shares",
    """
    WITH rev AS (
      SELECT n_name, r_name,
             round(sum(o_totalprice), 2) AS nation_rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name, r_name
    ),
    region_tot AS (
      SELECT r_name, sum(nation_rev) AS region_rev FROM rev GROUP BY r_name
    ),
    grand AS (SELECT sum(region_rev) AS total FROM region_tot)
    SELECT n_name, r_name, nation_rev,
           round(100 * nation_rev / region_rev, 6) AS pct_of_region,
           round(100 * nation_rev / total, 6) AS pct_of_total
    FROM rev JOIN region_tot USING (r_name) CROSS JOIN grand
    """,
)
def q56_revenue_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two levels: each nation's revenue as a share
    of its region and of the grand total — the hierarchical BI report.
    One fact aggregation; the parent totals are re-aggregations of the
    (tiny) nation rollup that broadcast back, so the fact table is
    scanned once. Dimension joins broadcast (nation/region are
    dimension-sized at any scale)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name", "r_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("nation_rev"))
    )
    region_tot = rev.groupBy("r_name").agg(
        F.sum("nation_rev").alias("region_rev")
    )
    grand = region_tot.agg(F.sum("region_rev").alias("total"))
    return (
        rev.join(F.broadcast(region_tot), "r_name")
        .crossJoin(F.broadcast(grand))
        .select(
            "n_name",
            "r_name",
            "nation_rev",
            F.round(100 * F.col("nation_rev") / F.col("region_rev"), 6)
            .alias("pct_of_region"),
            F.round(100 * F.col("nation_rev") / F.col("total"), 6)
            .alias("pct_of_total"),
        )
    )


# ---------------------------------------------------------------------------
# d54 — Zipf-law fit (regression aggregate over the rank-frequency curve).
# ---------------------------------------------------------------------------
_ZIPF_TOP = 200


@spark_query(
    "d54_zipf_slope",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    t AS (SELECT term FROM tok WHERE term <> ''),
    freq AS (SELECT term, count(*) AS n FROM t GROUP BY term),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, term ASC) AS rnk
      FROM freq
    )
    SELECT count(*) AS n_terms,
           round(regr_slope(ln(CAST(n AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope
    FROM ranked WHERE rnk <= {_ZIPF_TOP}
    """,
)
def d54_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: the least-squares slope of
    log-frequency vs log-rank over the top-200 terms (natural text ≈
    −1; the synthetic word-soup is much flatter — which is exactly what
    the diagnostic is for). ``regr_slope`` is a co-moment aggregate, so
    the fit is one partial+final pass over the ranked vocabulary; the
    rank window runs on the frequency table (vocabulary-sized), not the
    token stream."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(text.tokens("text")).alias("term")).filter(
        F.col("term") != ""
    )
    freq = tok.groupBy("term").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    ranked = freq.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _ZIPF_TOP
    )
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(
            F.regr_slope(
                F.log(F.col("n").cast("double")),
                F.log(F.col("rnk").cast("double")),
            ),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# d49 — weighted sampling without replacement (Efraimidis–Spirakis).
# ---------------------------------------------------------------------------
_WS_K = 50


@spark_query(
    "d49_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(CAST({text.portable_hash_sql("'ws|' || CAST(doc_id AS VARCHAR)")} + 1
                AS DOUBLE) / {text.HASH_MOD + 1}) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(es_key, 6) AS es_key,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT doc_id, n_chars, es_key,
             row_number() OVER (ORDER BY es_key DESC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= {_WS_K}
    """,
)
def d49_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis A-ES):
    per row, key = ln(u)/w with u a deterministic hash-uniform in
    (0, 1]; the k largest keys ARE a weighted sample without
    replacement. One scan + TakeOrderedAndProject (per-partition top-k,
    k·partitions rows merge) — no shuffle of the data, reproducible
    replays because u comes from the portable hash, and weights (here
    doc length) can be any positive column. The canonical distributed
    answer to "sample 1M docs from 100 TB proportionally to length"."""
    d = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    u = (
        text.portable_hash(
            F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))
        )
        + 1
    ).cast("double") / F.lit(float(text.HASH_MOD + 1))
    keyed = d.select(
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _WS_K)
        .select("doc_id", "n_chars", F.round("es_key", 6).alias("es_key"), "rnk")
    )


# ---------------------------------------------------------------------------
# d50 — PMI collocations (statistically-bound word pairs).
# ---------------------------------------------------------------------------
_PMI_MIN_COUNT = 30


@spark_query(
    "d50_pmi_collocations",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM bg),
    bc AS (SELECT bigram, w1, w2, count(*) AS bn FROM bg
           GROUP BY bigram, w1, w2 HAVING count(*) >= {_PMI_MIN_COUNT}),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY w1),
    c2 AS (SELECT w2, count(*) AS n2 FROM bg GROUP BY w2)
    SELECT bigram, bn,
           round(log2((bn / total) / ((n1 / total) * (n2 / total))), 6) AS pmi
    FROM bc JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
    """,
)
def d50_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — PMI ≫ 0
    marks collocations (pairs bound tighter than chance), the standard
    phrase-mining signal. Three aggregates over one bigram stream; the
    unigram position marginals are vocabulary-sized → broadcast; the
    min-count floor keeps the output to statistically meaningful pairs
    (PMI of rare pairs is noise)."""
    d = _docs(spark, sf_dir)
    t = d.select(text.tokens("text").alias("t")).filter(
        F.array_size("t") >= 2
    )
    bg = t.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.array_size("t") - 1),
                F.slice("t", 2, F.array_size("t") - 1),
                lambda a, b: F.struct(
                    F.concat_ws(" ", a, b).alias("bigram"),
                    a.alias("w1"),
                    b.alias("w2"),
                ),
            )
        ).alias("z")
    ).select("z.bigram", "z.w1", "z.w2")
    n = bg.agg(F.count("*").cast("double").alias("total"))
    bc = (
        bg.groupBy("bigram", "w1", "w2")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") >= _PMI_MIN_COUNT)
    )
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    c2 = bg.groupBy("w2").agg(F.count("*").alias("n2"))
    p_b = F.col("bn") / F.col("total")
    p_12 = (F.col("n1") / F.col("total")) * (F.col("n2") / F.col("total"))
    return (
        bc.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "bigram",
            "bn",
            F.round(F.log2(p_b / p_12), 6).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# q59 — greatest-n-per-group WITHOUT a window: double aggregate + join
# back (the shuffle-light scale form of q07's window top-1).
# ---------------------------------------------------------------------------
@spark_query(
    "q59_argmax_per_group",
    """
    WITH mx AS (
      SELECT o_orderpriority, max(o_totalprice) AS top_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, mx.top_price,
           CAST(min(o.o_orderkey) AS BIGINT) AS top_orderkey
    FROM orders o
    JOIN mx ON o.o_orderpriority = mx.o_orderpriority
           AND o.o_totalprice = mx.top_price
    GROUP BY o.o_orderpriority, mx.top_price
    """,
)
def q59_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group as two partial-aggregable passes: max price per
    priority (5-row aggregate, broadcast back), equality-join to
    recover the argmax rows, then min orderkey as the deterministic
    tiebreak. No window function anywhere — both passes are map-side
    partial aggregates, so unlike a rank-over-partition this never
    materializes a per-group sort; the idiomatic greatest-n-per-group
    at 100 TB when n=1."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.groupBy(
        F.col("o_orderpriority").alias("__prio")
    ).agg(F.max("o_totalprice").alias("top_price"))
    return (
        orders.join(
            F.broadcast(mx),
            (F.col("o_orderpriority") == F.col("__prio"))
            & (F.col("o_totalprice") == F.col("top_price")),
        )
        .groupBy("o_orderpriority", "top_price")
        .agg(F.min("o_orderkey").cast("long").alias("top_orderkey"))
    )


# ---------------------------------------------------------------------------
# q60 — snapshot reconciliation via FULL OUTER join (the CDC diff).
# ---------------------------------------------------------------------------
_RECON_CUTOFF = "1995-01-01"


@spark_query(
    "q60_snapshot_reconcile",
    f"""
    WITH b AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_before
      FROM orders WHERE o_orderdate < DATE '{_RECON_CUTOFF}'
      GROUP BY o_custkey
    ),
    a AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_after
      FROM orders WHERE o_orderdate >= DATE '{_RECON_CUTOFF}'
      GROUP BY o_custkey
    )
    SELECT coalesce(b.o_custkey, a.o_custkey) AS custkey,
           coalesce(spend_before, 0.0) AS spend_before,
           coalesce(spend_after, 0.0) AS spend_after,
           CASE WHEN b.o_custkey IS NULL THEN 'new'
                WHEN a.o_custkey IS NULL THEN 'churned'
                ELSE 'active' END AS status
    FROM b FULL OUTER JOIN a ON b.o_custkey = a.o_custkey
    """,
)
def q60_snapshot_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot reconciliation: per-key aggregates of the old and
    new snapshot FULL OUTER joined, null sides classifying each key as
    new / churned / active — the generic CDC diff between any two
    sources. Both sides aggregate on the join key first, so the full
    outer join sees one row per key and (with AQE) reuses the
    aggregation's hash partitioning — one logical shuffle per side,
    then a co-partitioned merge. (When both snapshots derive from one
    table, a single-pass conditional aggregation is the cheaper
    equivalent; the full-outer form is the one that generalizes to
    distinct sources.)"""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_RECON_CUTOFF).cast("date")
    b = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("bk"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend_before"))
    )
    a = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("ak"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend_after"))
    )
    j = b.join(a, b["bk"] == a["ak"], "full_outer")
    return j.select(
        F.coalesce("bk", "ak").alias("custkey"),
        F.coalesce("spend_before", F.lit(0.0)).alias("spend_before"),
        F.coalesce("spend_after", F.lit(0.0)).alias("spend_after"),
        F.when(F.col("bk").isNull(), F.lit("new"))
        .when(F.col("ak").isNull(), F.lit("churned"))
        .otherwise(F.lit("active"))
        .alias("status"),
    )
