"""Round-3 second wave (proof debt for the round-4 window): five more
TPC-H-shaped relational queries (q67-q71), a Markov transition matrix
(q72), six LLM-data extensions (d74-d79), and the batch face of the
``applyInPandasWithState`` running-stats operator (s07).

Scale conventions are the package's usual ones: dimension-sized sides
broadcast, fact tables shuffle once on their aggregation key,
vocabulary-sized models join back broadcast, and every floating-point
output is rounded to 6 decimals BEFORE any rank so ordering is
engine-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q67 — nation-pair trade matrix (TPC-H Q7 shape): revenue between
# distinct (supplier nation, customer nation) pairs per order year.
# ---------------------------------------------------------------------------
@spark_query(
    "q67_nation_trade_matrix",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE s_nationkey != c_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q67_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade volume: the Q5 join graph with the nation
    equality negated and BOTH nation dimensions kept (two broadcast
    copies of the 25-row nation table). One fact pass, one shuffle on
    the (nation, nation, year) aggregation key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q68 — returned-item reporting (TPC-H Q10 shape): top-20 customers by
# revenue lost to returns.
# ---------------------------------------------------------------------------
@spark_query(
    "q68_returned_items",
    """
    WITH r AS (
      SELECT c_custkey, c_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 6) AS lost_revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, n_name, lost_revenue, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY lost_revenue DESC,
                                   c_custkey ASC) AS rk
      FROM r
    ) WHERE rk <= 20
    """,
)
def q68_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returns loss report: returnflag filter pushed to the
    lineitem scan, customer join keyed on the fact's custkey, nation
    broadcast. The global top-20 ranks the customer-sized aggregate
    (rounded first) — never the line-level rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("lost_revenue")
        )
    )
    w = Window.orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
    return agg.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 20
    )


# ---------------------------------------------------------------------------
# q69 — large-volume customers (TPC-H Q18 shape): orders whose total
# quantity exceeds a threshold, with their customers.
# ---------------------------------------------------------------------------
_Q69_MIN_QTY = 250


@spark_query(
    "q69_large_volume_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING sum(l_quantity) > {_Q69_MIN_QTY}
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           round(total_qty, 6) AS total_qty
    FROM big
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)
def q69_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over a fact rollup, then joins: the quantity rollup is
    the one line-level shuffle; the HAVING prunes to the few hundred
    qualifying orders BEFORE any join, so orders/customer join against
    a tiny filtered set (broadcast-eligible at any scale)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > _Q69_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("tq"), 6).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# q70 — disjunctive multi-band join predicate (TPC-H Q19 shape):
# revenue from three (brand, size, quantity) bands OR'd together.
# ---------------------------------------------------------------------------
@spark_query(
    "q70_disjunctive_join_revenue",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 5)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 15)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 25)
    """,
)
def q70_disjunctive_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19's famous OR-of-ANDs: the join itself stays a pure partkey
    equi-join; the disjunction is a post-join residual, but the
    brand/size side of each disjunct references only part columns, so
    Catalyst derives `p_brand IN (...)` + size bounds and PUSHES them
    into the part scan — the broadcast build side is pre-shrunk."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 5)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & (F.col("l_quantity") >= 15)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & (F.col("l_quantity") >= 25)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q71 — dormant high-balance customers (TPC-H Q22 shape): customers
# with above-average account balance and no orders since a cutoff.
# ---------------------------------------------------------------------------
@spark_query(
    "q71_dormant_rich_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    ),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 6) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN avg_bal
    WHERE c_acctbal > ab
      AND c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY n_name
    """,
)
def q71_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery + anti-join decorrelation: the global average is
    a 1-row broadcast, the recent-buyer key set anti-joins on custkey
    (one shuffle of keys only), and nation broadcasts. At 100 TB the
    date filter prunes the orders scan before any distinct."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("ab"))
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# q72 — event-type transition matrix (first-order Markov chain over
# each user's clickstream).
# ---------------------------------------------------------------------------
@spark_query(
    "q72_event_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT prev_type, sum(n) AS tot FROM trans GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n,
           round(CAST(t.n AS DOUBLE) / tot, 6) AS p
    FROM trans t JOIN totals USING (prev_type)
    """,
)
def q72_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag window (ordered by ts with event_id tiebreak so the
    sequence is engine-deterministic) → transition counts → row-
    normalized probabilities. The lag shuffles events once on user_id;
    the transition matrix is |event types|² rows, and its row totals
    join back broadcast."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# d74 — one BPE merge-candidate round: frequency of adjacent character
# pairs across the token stream (the statistic a BPE trainer maximizes
# each merge; iterate → train).
# ---------------------------------------------------------------------------
@spark_query(
    "d74_bpe_merge_candidates",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tok2 AS (SELECT t FROM tok WHERE len(t) >= 2),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)),
               i -> {'ls': substr(t, i, 1), 'rs': substr(t, i + 1, 1)})) AS pr
      FROM tok2
    ),
    counted AS (
      SELECT pr.ls AS left_sym, pr.rs AS right_sym,
             CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2
    )
    SELECT left_sym, right_sym, n, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, left_sym ASC,
                                   right_sym ASC) AS rk
      FROM counted
    ) WHERE rk <= 20
    """,
)
def d74_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-symbol pair counts: tokens explode to character
    bigrams row-locally (sequence + transform — no Python), the count
    is one partial-agg'd shuffle of symbol pairs (alphabet², tiny), and
    the top-20 ranks the aggregate. Each BPE training round at corpus
    scale is exactly this plan re-run over the re-segmented stream."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens("text")).alias("t")).filter(
        F.length("t") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 1),
                lambda i: F.struct(
                    F.col("t").substr(i, F.lit(1)).alias("left_sym"),
                    F.col("t").substr(i + 1, F.lit(1)).alias("right_sym"),
                ),
            )
        ).alias("pr")
    ).select(F.col("pr.left_sym"), F.col("pr.right_sym"))
    counted = pairs.groupBy("left_sym", "right_sym").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.orderBy(
        F.col("n").desc(), F.col("left_sym").asc(), F.col("right_sym").asc()
    )
    return counted.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 20
    )


# ---------------------------------------------------------------------------
# d75 — language-ID confusion matrix: the d05 marker-word predictor
# audited against the labeled lang column.
# ---------------------------------------------------------------------------
def _d75_oracle() -> str:
    from .llm_data import _lang_id_oracle

    inner = _lang_id_oracle().strip()
    return f"""
    WITH pred AS ({inner})
    SELECT d.lang AS true_lang, p.predicted_lang,
           CAST(count(*) AS BIGINT) AS n
    FROM pred p JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """


@spark_query("d75_langid_confusion", _d75_oracle())
def d75_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction-vs-label confusion counts — the audit table every
    heuristic classifier in the pipeline needs. The predictor is a
    narrow map (d05's marker argmax), the label lives on the same row,
    so the whole audit is one |langs|²-row aggregation."""
    d = load_table(spark, sf_dir, "documents")
    pred = text.language_id(d)
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy(
            F.col("lang").alias("true_lang"), F.col("predicted_lang")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# d76 — dedup-cluster size histogram: how big are the near-dup
# families? (The shape of this histogram decides the dedup strategy —
# a few huge cliques need different handling than many pairs.)
# ---------------------------------------------------------------------------
def _d76_oracle() -> str:
    from .llm_data import _components_oracle

    inner = _components_oracle().strip()
    # d31's oracle is "WITH RECURSIVE <ctes> SELECT a AS node, ...";
    # turn its final SELECT into one more CTE and aggregate over it.
    head, _ = inner.rsplit("SELECT a AS node", 1)
    head = head.rstrip()
    assert head.endswith(")"), head[-40:]
    return f"""{head},
    comp AS (
      SELECT a AS node, min(b) AS component FROM reach GROUP BY a
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY 1
    """


@spark_query("d76_cluster_size_histogram", _d76_oracle())
def d76_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tiny aggregations over the d31 component assignment (itself
    iterative min-label propagation — the components table is
    node-sized, the histogram is distinct-size-sized)."""
    from .llm_data import d31_dedup_components

    comp = d31_dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )


# ---------------------------------------------------------------------------
# d77 — stopword discovery: terms whose document frequency exceeds a
# ratio threshold (corpus-derived stopword lists beat static ones for
# quality scoring and BM25).
# ---------------------------------------------------------------------------
_D77_RATIO = 0.6


@spark_query(
    "d77_stopword_discovery",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    t2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t2 GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term, df, round(CAST(df AS DOUBLE) / n_docs, 6) AS df_ratio
    FROM df, n
    WHERE CAST(df AS DOUBLE) / n_docs >= {_D77_RATIO}
    """,
)
def d77_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per term (distinct per doc — one exploded
    distinct + count), 1-row total broadcast back, ratio filter. The
    output is stopword-list-sized; at corpus scale this is the cheap
    pre-pass that feeds q57's BM25 idf and d04's quality scoring."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(text.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    df_ = tok.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        df_.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df").cast("double") / F.col("n_docs") >= _D77_RATIO)
        .select(
            "term",
            "df",
            F.round(F.col("df").cast("double") / F.col("n_docs"), 6).alias(
                "df_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d78 — Neyman allocation for stratified sampling: given a total
# budget, allocate per-stratum sample sizes ∝ N_h · S_h (optimal for
# estimating the corpus mean under stratification by source).
# ---------------------------------------------------------------------------
_D78_BUDGET = 1000


@spark_query(
    "d78_neyman_allocation",
    f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_docs * sd) AS denom FROM s)
    SELECT source, n_docs, round(sd, 6) AS sd_chars,
           round(n_docs * sd / denom, 6) AS alloc_share,
           CAST(floor({_D78_BUDGET} * n_docs * sd / denom) AS BIGINT)
             AS alloc_n
    FROM s, tot
    """,
)
def d78_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum moments in one partial-agg pass, the 1-row
    denominator broadcast back, allocation = floor (NOT round — IEEE
    half-even at .5 boundaries is not engine-portable). Feeds d26/d68:
    this computes HOW MANY to take per stratum; those take them."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.stddev_samp(F.col("n_chars").cast("double")).alias("sd"),
    )
    tot = s.agg(F.sum(F.col("n_docs") * F.col("sd")).alias("denom"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round("sd", 6).alias("sd_chars"),
            F.round(F.col("n_docs") * F.col("sd") / F.col("denom"), 6).alias(
                "alloc_share"
            ),
            F.floor(
                _D78_BUDGET * F.col("n_docs") * F.col("sd") / F.col("denom")
            )
            .cast("long")
            .alias("alloc_n"),
        )
    )


# ---------------------------------------------------------------------------
# d79 — blocklist screening: per-document hit counts against a word
# blocklist, flagging docs over a threshold (the lexical safety/
# quality screen every corpus pass includes).
# ---------------------------------------------------------------------------
_D79_BLOCKLIST = ["error", "slow", "stream"]
_D79_MAX_HITS = 2


@spark_query(
    "d79_blocklist_screen",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    hits AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN t IN ({", ".join(repr(w) for w in _D79_BLOCKLIST)})
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, n_hits FROM hits WHERE n_hits > {_D79_MAX_HITS}
    """,
)
def d79_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence counts (not distinct-word counts) via a row-local
    filtered-array size — no explode, no shuffle at all until the
    (already doc-sized) result. The blocklist is a literal array in
    codegen; a real deployment broadcasts it the same way."""
    d = load_table(spark, sf_dir, "documents")
    hits = F.size(
        F.filter(
            text.tokens("text"),
            lambda t: t.isin(*_D79_BLOCKLIST),
        )
    ).cast("long")
    return (
        d.select("doc_id", hits.alias("n_hits"))
        .filter(F.col("n_hits") > _D79_MAX_HITS)
    )


# ---------------------------------------------------------------------------
# s07 — batch face of the applyInPandasWithState running-stats
# operator (streaming/stateful.py): final per-user running totals.
# ---------------------------------------------------------------------------
@spark_query(
    "s07_running_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(coalesce(value, 0.0)), 6) AS value_sum,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def s07_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the stateful stream's per-key state converges to after the
    backlog drains: the batch face is one partial-agg'd groupBy, and
    tests/test_streaming.py::test_s07_registered_face_stream_vs_batch
    proves the applyInPandasWithState operator (streaming/stateful.py)
    reaches the same totals via the state store — against THIS
    registered plan, multi-micro-batch, on the driver testdata."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
            "value_sum"
        ),
        F.max("ts").alias("last_ts"),
    )
