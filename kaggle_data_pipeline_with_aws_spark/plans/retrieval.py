"""Retrieval & curation-assembly operators — third wave of the
LLM-data-pipeline extensions: BM25 lexical search, sweep-line interval
concurrency, canonical-document selection after dedup clustering,
sequence packing, and global token-budget sampling.

Scale notes: BM25's corpus statistics (doc count, per-term document
frequencies, total length) aggregate to ONE row and broadcast back —
the corpus is scanned once, narrowly. The interval sweep and the
budget sample both ride the quantile-bucket prefix-sum machinery
(operators/renumber.py::global_prefix_sum) — integer-exact running
totals with no single-partition window. Packing parallelizes across
(source, shard) groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, similarity, text
from ..operators.packing import next_fit_pack
from ..operators.renumber import global_prefix_sum
from ..sources.readers import load_table
from .llm_data import _components_oracle
from .registry import spark_query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# q57 — BM25 lexical search (Okapi, Lucene idf smoothing).
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "window", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _eq_term(t: str):
    # one-arg closure: a default-arg lambda would read to F.filter as
    # the two-arg (element, index) form
    return lambda x: x == F.lit(t)


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    norm = (
        f"({_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
    )
    contribs = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* tf{i} * ({_BM25_K1} + 1) / (tf{i} + {norm}) "
        f"ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, len(toks) AS dl, {tf_cols} FROM t
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols}
      FROM d
    )
    SELECT doc_id,
           round({contribs}, 6) AS bm25
    FROM (SELECT d.*, stats.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
          FROM d, stats)
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


@spark_query("q57_bm25_search", _bm25_oracle())
def q57_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed term set. Per-doc term
    frequencies are narrow array expressions (no token explode); the
    only aggregate is the ONE-row corpus stats (N, Σdl, per-term df),
    broadcast back. The top-20 is orderBy+limit — a distributed
    TakeOrdered, never a single-partition window. Contributions are
    added in fixed literal order so the float result is reproducible
    across engines."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        text.tokens("text").alias("toks"),
    )
    d = d.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.size(F.filter("toks", _eq_term(t))).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(
                F.when(F.col(f"tf{i}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
    )
    contrib = None
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        norm = F.lit(_BM25_K1) * (
            F.lit(1 - _BM25_B)
            + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        )
        c = F.when(
            tf > 0,
            idf * tf * F.lit(_BM25_K1 + 1) / (tf + norm),
        ).otherwise(F.lit(0.0))
        contrib = c if contrib is None else contrib + c
    return (
        scored.withColumn("bm25", F.round(contrib, 6))
        .select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q58 — sweep-line interval concurrency.
# ---------------------------------------------------------------------------
_SESSION_MINUTES = 30


@spark_query(
    "q58_concurrent_intervals",
    f"""
    WITH v AS (
      SELECT event_id, ts,
             ts + INTERVAL {_SESSION_MINUTES} MINUTE AS ts_end
      FROM events WHERE event_type = 'view'
    ),
    b AS (
      SELECT event_id, ts AS bts, CAST(1 AS BIGINT) AS delta FROM v
      UNION ALL
      SELECT event_id, ts_end, CAST(-1 AS BIGINT) FROM v
    )
    SELECT event_id, bts, delta,
           CAST(sum(delta) OVER (
             ORDER BY bts, delta, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
    FROM b
    """,
)
def q58_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap counting by sweep line: every view opens a
    30-minute session; each interval contributes a +1 boundary at its
    start and a -1 at its end, and the running total of deltas in
    global boundary order IS the step function of concurrent sessions
    (ends sort before starts at the same instant — half-open
    intervals). The naive form is an interval self-join (quadratic in
    overlap); the sweep line is linear. The running total is the
    quantile-bucket prefix sum — integer-exact, no single-partition
    window, so the sweep scales with the data like any sort."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        F.col("ts"),
        (
            F.col("ts") + F.expr(f"INTERVAL {_SESSION_MINUTES} MINUTE")
        ).alias("ts_end"),
    )
    b = v.select(
        "event_id",
        F.col("ts").alias("bts"),
        F.lit(1).cast("long").alias("delta"),
    ).unionByName(
        v.select(
            "event_id",
            F.col("ts_end").alias("bts"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    return global_prefix_sum(
        b,
        order_by=["bts", "delta", "event_id"],
        weight_col="delta",
        out_col="concurrency",
    ).select("event_id", "bts", "delta", "concurrency")


# ---------------------------------------------------------------------------
# d55 — canonical document per near-dup cluster.
# ---------------------------------------------------------------------------
def _canonical_oracle() -> str:
    return f"""
    WITH comp AS ({_components_oracle()}),
    j AS (
      SELECT comp.component, comp.node, d.n_chars
      FROM comp JOIN documents d ON d.doc_id = comp.node
    ),
    r AS (
      SELECT component, node, n_chars,
             row_number() OVER (
               PARTITION BY component ORDER BY n_chars DESC, node
             ) AS rn
      FROM j
    )
    SELECT component,
           max(CASE WHEN rn = 1 THEN node END) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS canonical_chars
    FROM r GROUP BY component
    """


@spark_query("d55_canonical_docs", _canonical_oracle())
def d55_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step dedup clustering exists for: per connected component of
    the minhash near-dup graph, elect one canonical document (longest,
    doc id as tie-break) and count the cluster. The per-cluster window
    is bounded by cluster size (near-dup clusters are small cliques);
    the heavy lifting — pair generation and components — reuses the
    banded-LSH and label-propagation operators."""
    docs = _docs(spark, sf_dir)
    # components served from the materialized artifact (round 7); the
    # standalone fixpoint over dedup.minhash_lsh_pairs stays the twin
    from ..operators import text_substrate

    comp = text_substrate.lsh_components(spark, sf_dir, threshold=0.5)
    j = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("node")
    )
    r = j.withColumn("rn", F.row_number().over(w))
    return r.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("node"))).alias(
            "canonical_doc_id"
        ),
        F.count("*").alias("n_docs"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("long")
        .alias("canonical_chars"),
    )


# ---------------------------------------------------------------------------
# d56 — next-fit sequence packing per (source, shard).
# ---------------------------------------------------------------------------
_PACK_CAP = 2000
_PACK_SHARDS = 4


def _packing_oracle() -> str:
    return f"""
    WITH RECURSIVE d AS (
      SELECT source, CAST(doc_id % {_PACK_SHARDS} AS INTEGER) AS shard,
             doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source, doc_id % {_PACK_SHARDS} ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    pack(source, shard, rn, doc_id, n_chars, bin_id, fill) AS (
      SELECT source, shard, rn, doc_id, n_chars, CAST(0 AS BIGINT),
             n_chars
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.shard, d.rn, d.doc_id, d.n_chars,
             CASE WHEN p.fill + d.n_chars > {_PACK_CAP}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill + d.n_chars > {_PACK_CAP}
                  THEN d.n_chars ELSE p.fill + d.n_chars END
      FROM pack p
      JOIN d ON d.source = p.source AND d.shard = p.shard
            AND d.rn = p.rn + 1
    )
    SELECT source, shard, doc_id, n_chars, bin_id FROM pack
    """


@spark_query("d56_doc_packing", _packing_oracle())
def d56_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing of documents into {cap}-char bins,
    sequential within each (source, shard) stream, embarrassingly
    parallel across streams (operators/packing.py). The oracle states
    the same fill recursion as a recursive CTE."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        "doc_id",
        "n_chars",
    )
    return next_fit_pack(
        d,
        group_cols=["source", "shard"],
        order_col="doc_id",
        size_col="n_chars",
        capacity=_PACK_CAP,
    )


# ---------------------------------------------------------------------------
# d57 — global token-budget sample (quality-ordered prefix-sum cutoff).
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 10_000


def _budget_oracle() -> str:
    from .llm_data import _STOP_LIST_SQL

    stop = _STOP_LIST_SQL
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(toks) > 0
                   THEN CAST(len(list_filter(toks,
                        x -> list_contains({stop}, x))) AS DOUBLE)
                        / len(toks)
                   ELSE 0 END, 6) AS sw
      FROM t
    ),
    c AS (
      SELECT doc_id, n_tokens, sw,
             CAST(sum(n_tokens) OVER (
               ORDER BY sw DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM s
    )
    SELECT doc_id, n_tokens, sw AS stopword_ratio, cum_tokens
    FROM c WHERE cum_tokens <= {_BUDGET_TOKENS}
    """


@spark_query("d57_token_budget_sample", _budget_oracle())
def d57_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the most natural-looking documents (stopword ratio as the
    cheap quality proxy) until a global token budget is exhausted — the
    curation cut that turns scored docs into a sized corpus. The
    running total is the quantile-bucket prefix sum
    (operators/renumber.py::global_prefix_sum): integer-exact, no
    single-partition window, same two-small-jobs shape as the global
    renumber at any scale."""
    d = _docs(spark, sf_dir).select(
        "doc_id", text.tokens("text").alias("toks")
    )
    s = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(
            F.when(
                F.size("toks") > 0, text.stopword_ratio(F.col("toks"))
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("stopword_ratio"),
    ).withColumn("__ord", -F.col("stopword_ratio"))
    c = global_prefix_sum(
        s,
        order_by=["__ord", "doc_id"],
        weight_col="n_tokens",
        out_col="cum_tokens",
    )
    return (
        c.filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "n_tokens", "stopword_ratio", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# d58 — inter-document duplicated-span coverage (repeated-substring
# dedup signal; the relational re-expression of suffix-array
# "ExactSubstr" dedup).
# ---------------------------------------------------------------------------
_SPAN_K = 8


def _dupspan_oracle() -> str:
    k = _SPAN_K
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
             unnest(range(1, len(t) - {k} + 2)) AS i
      FROM toks
    ),
    spans AS (
      SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS s,
             array_to_string(
               t[CAST(i AS BIGINT):CAST(i + {k} - 1 AS BIGINT)], ' ') AS span
      FROM idx
    ),
    dup AS (
      SELECT span FROM spans GROUP BY span
      HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, n_tokens, s, s + {k} - 1 AS e
      FROM spans WHERE span IN (SELECT span FROM dup)
    ),
    sweep AS (
      SELECT doc_id, n_tokens, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pe
      FROM hits
    )
    SELECT doc_id,
           CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(greatest(0, e - greatest(s - 1, coalesce(pe, 0))))
                AS BIGINT) AS n_dup_tokens,
           round(CAST(sum(greatest(0, e - greatest(s - 1, coalesce(pe, 0))))
                      AS DOUBLE) / max(n_tokens), 6) AS dup_fraction
    FROM sweep GROUP BY doc_id
    """


@spark_query("d58_duplicated_spans", _dupspan_oracle())
def d58_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document covered by an 8-token span that also
    appears verbatim in another document — the substring-level dedup
    signal that catches partial copies exact/minhash dedup both miss
    (boilerplate headers, quoted paragraphs, shared templates). See
    operators/dedup.py::duplicated_span_coverage for the sweep-line
    plan; the oracle replays it with the span STRING as the group key
    where the registered plan groups on the 64-bit span hash (8-byte
    shuffle keys at scale)."""
    return dedup.duplicated_span_coverage(
        _docs(spark, sf_dir), k=_SPAN_K
    )


# ---------------------------------------------------------------------------
# d59 — ANN recall@k: the IVF index (d20) self-measured against the
# exact brute-force baseline (d09).
# ---------------------------------------------------------------------------
def _recall_oracle() -> str:
    from .registry import ORACLE_SQL

    exact = ORACLE_SQL["d09_ann_topk"]
    ivf = ORACLE_SQL["d20_ann_ivf_fixed"]
    return f"""
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS recall_at_5
    FROM ({exact}) e
    LEFT JOIN ({ivf}) i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    """


@spark_query("d59_ann_recall", _recall_oracle())
def d59_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against the exact top-k, per query —
    the index-quality measurement every ANN deployment needs before it
    trusts the approximate path. Composes the two registered operators
    (broadcast-queries brute force; IVF cell equi-join) and joins their
    top-k sets; both sides are narrow per-query top-5 tables, so the
    recall join is tiny regardless of corpus scale."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    centroids = embs.filter(F.col("vec_id") < 16)
    exact = similarity.brute_force_topk(embs, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.ivf_topk_fixed_centroids(
        embs, queries, centroids, k=5, n_probe=2
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    j = exact.join(ivf, ["query_id", "neighbor_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hit"),
        F.round(
            F.sum(F.coalesce("__hit", F.lit(0))) / F.count("*"), 6
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# d60 — source-mixture rebalance: deterministic hash thinning down to
# the smallest source's share, equalizing the corpus mixture.
# ---------------------------------------------------------------------------
def _rebalance_oracle() -> str:
    from ..operators.text import HASH_MOD, portable_hash_sql

    h = portable_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src
      FROM documents GROUP BY source
    ),
    m AS (SELECT min(n_src) AS n_min FROM c),
    k AS (
      SELECT d.source, c.n_src,
             CASE WHEN {h} * c.n_src < m.n_min * {HASH_MOD}
                  THEN 1 ELSE 0 END AS acc
      FROM documents d JOIN c ON d.source = c.source CROSS JOIN m
    )
    SELECT source, n_src,
           CAST(sum(acc) AS BIGINT) AS n_kept,
           round(CAST(sum(acc) AS DOUBLE) / n_src, 6) AS kept_rate
    FROM k GROUP BY source, n_src
    """


@spark_query("d60_mixture_rebalance", _rebalance_oracle())
def d60_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize the source mixture by thinning every source down to the
    smallest source's document count IN EXPECTATION, with a
    deterministic per-doc hash draw (reproducible across runs and
    engines — no rand()). The per-source rates derive from a 20-row
    aggregate that broadcasts back onto the corpus: the 100 TB side is
    touched exactly once, filtered map-side, and the accept test is
    integer-exact (hash * n_src < n_min * MOD — no float rate).
    Returns the per-source audit (kept counts and achieved rate);
    chain .filter on the same predicate to materialize the sample."""
    from ..operators.text import HASH_MOD, portable_hash

    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_src")
    )
    n_min = counts.agg(F.min("n_src").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min))
    acc = (
        portable_hash(F.col("doc_id").cast("string")) * F.col("n_src")
        < F.col("n_min") * F.lit(HASH_MOD)
    ).cast("int")
    return (
        docs.join(F.broadcast(rates), "source")
        .withColumn("__acc", acc)
        .groupBy("source", "n_src")
        .agg(
            F.sum("__acc").cast("long").alias("n_kept"),
            F.round(F.sum("__acc") / F.col("n_src").cast("double"), 6).alias(
                "kept_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d61 — MinHash estimate audit: LSH-estimated Jaccard vs the TRUE
# shingle Jaccard, per candidate pair.
# ---------------------------------------------------------------------------
def _lsh_error_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    return f"""{_minhash_pairs_cte(0.5)},
    sh2 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    cnt2 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh2 GROUP BY doc_id
    ),
    inter2 AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sh2 a JOIN sh2 b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truej AS (
      SELECT p.doc_id_1, p.doc_id_2, p.est_jaccard,
             round(coalesce(
               CAST(i.n_common AS DOUBLE)
                 / (ca.n + cb.n - i.n_common), 0.0), 6) AS true_jaccard
      FROM pairs p
      LEFT JOIN inter2 i
        ON p.doc_id_1 = i.doc_id_1 AND p.doc_id_2 = i.doc_id_2
      JOIN cnt2 ca ON p.doc_id_1 = ca.doc_id
      JOIN cnt2 cb ON p.doc_id_2 = cb.doc_id
    )
    SELECT doc_id_1, doc_id_2, est_jaccard, true_jaccard,
           round(abs(est_jaccard - true_jaccard), 6) AS abs_err
    FROM truej
    """


@spark_query("d61_lsh_estimate_error", _lsh_error_oracle())
def d61_lsh_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the MinHash sketch against ground truth: for every LSH
    candidate pair (d07), recompute the TRUE shingle Jaccard and report
    the estimation error — the calibration report that justifies a
    32-hash signature before a 100 TB dedup run commits to it.

    Scale shape: true Jaccard is computed ONLY for the candidate pairs
    — the shingle table is joined THROUGH the pair list (pair ⋈ shingle
    on doc_id_1, then inner ⋈ on (doc_id_2, shingle)), never
    self-joined corpus-wide; work is O(candidates × shingles/doc), not
    O(all co-shingled pairs)."""
    docs = _docs(spark, sf_dir)
    # pair list served from the shared signature substrate (round 7)
    from ..operators import text_substrate

    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    sh = dedup.shingle_table(docs, n=3)
    cnt = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    inter = (
        pairs.select("doc_id_1", "doc_id_2", "est_jaccard")
        .join(
            sh.select(F.col("doc_id").alias("doc_id_1"), "shingle"),
            "doc_id_1",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_id_2"), "shingle"),
            ["doc_id_2", "shingle"],
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_id_1"), F.col("n").alias("n_1"))
    cb = cnt.select(F.col("doc_id").alias("doc_id_2"), F.col("n").alias("n_2"))
    return (
        pairs.select("doc_id_1", "doc_id_2", "est_jaccard")
        .join(inter, ["doc_id_1", "doc_id_2"], "left")
        .join(F.broadcast(ca), "doc_id_1")
        .join(F.broadcast(cb), "doc_id_2")
        .withColumn(
            "true_jaccard",
            F.round(
                F.coalesce(
                    F.col("n_common")
                    / (F.col("n_1") + F.col("n_2") - F.col("n_common")),
                    F.lit(0.0),
                ),
                6,
            ),
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "est_jaccard",
            "true_jaccard",
            F.round(
                F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 6
            ).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# d62/d63 — mutual-kNN semantic graph + triangle enumeration.
# ---------------------------------------------------------------------------
def _knn_graph_cte() -> str:
    """WITH-chain ending in ``edges(node_a, node_b, cos_sim)``: the
    IVF top-5 graph (same fixed-centroid quantizer as d20, every vector
    as a query) restricted to MUTUAL neighbor pairs."""
    from .llm_data import _DOT_SQL, _DOT_VC, _NORM_SQL, _NORM_V, _NORM_C

    return f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id < 16
    ),
    all_scored AS (
      SELECT v.vec_id AS node, c.centroid_id,
             round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6) AS cscore
      FROM embeddings v, cents c
    ),
    assigned AS (
      SELECT node AS neighbor_id, centroid_id FROM (
        SELECT node, centroid_id,
               row_number() OVER (PARTITION BY node
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM all_scored) WHERE r = 1
    ),
    probed AS (
      SELECT node AS query_id, centroid_id FROM (
        SELECT node, centroid_id,
               row_number() OVER (PARTITION BY node
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM all_scored) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    rescored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')}
                   * {_NORM_SQL.format(v='b')}), 6) AS cos_sim
      FROM cand
      JOIN embeddings b ON b.vec_id = cand.query_id
      JOIN embeddings a ON a.vec_id = cand.neighbor_id
    ),
    knn AS (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM rescored) WHERE rank <= 5
    ),
    edges AS (
      SELECT t1.query_id AS node_a, t1.neighbor_id AS node_b, t1.cos_sim
      FROM knn t1 JOIN knn t2
        ON t1.query_id = t2.neighbor_id AND t1.neighbor_id = t2.query_id
      WHERE t1.query_id < t1.neighbor_id
    )"""


def _mutual_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node_a < node_b, cos_sim): mutual IVF-top-5 pairs, served from
    the materialize-once substrate (operators/knn_substrate.py). The
    five graph consumers (d62/d63/d64/d122/d132) share one builder job
    per dataset instead of re-deriving the edge list from the embedding
    table each — the round-4 verdict's biggest cross-query waste. The
    builder plan itself is unchanged: scale-safe IVF cell equi-join
    (never all-pairs) + a narrow mutuality semi-join."""
    from ..operators.knn_substrate import mutual_knn_edges

    return mutual_knn_edges(spark, sf_dir)


@spark_query(
    "d62_knn_graph",
    _knn_graph_cte() + "\n    SELECT node_a, node_b, cos_sim FROM edges",
)
def d62_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN semantic graph over the embedding table — the
    standard substrate for graph-based curation (semantic clusters,
    diversity pruning, label propagation). Mutuality is the usual
    noise filter: an edge exists only if each side ranks the other in
    its top-5."""
    return _mutual_knn_edges(spark, sf_dir)


@spark_query(
    "d63_knn_triangles",
    _knn_graph_cte()
    + """
    SELECT e1.node_a AS node_a, e1.node_b AS node_b, e2.node_b AS node_c
    FROM edges e1
    JOIN edges e2 ON e1.node_b = e2.node_a
    JOIN edges e3 ON e3.node_a = e1.node_a AND e3.node_b = e2.node_b
    """,
)
def d63_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the mutual-kNN graph (the tight
    semantic-cluster cores). Spark plan uses DEGREE-ORDERED edge
    orientation (Schank's algorithm): every edge points from its
    lower-(degree, id) endpoint, making the graph a DAG consistent
    with a total order, so each triangle is emitted exactly once and
    the wedge join fans out from low-degree nodes — the skew guard
    that keeps hub nodes from exploding the intermediate at scale.
    The oracle uses the orientation-invariant id-order form; both
    emit the canonical sorted (node_a, node_b, node_c)."""
    edges = _mutual_knn_edges(spark, sf_dir).select("node_a", "node_b")
    deg = (
        edges.select(F.col("node_a").alias("n"))
        .unionAll(edges.select(F.col("node_b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        edges.join(
            F.broadcast(
                deg.select(
                    F.col("n").alias("node_a"), F.col("deg").alias("da")
                )
            ),
            "node_a",
        )
        .join(
            F.broadcast(
                deg.select(
                    F.col("n").alias("node_b"), F.col("deg").alias("db")
                )
            ),
            "node_b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("node_a") < F.col("node_b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("node_a")).otherwise(F.col("node_b")).alias("src"),
        F.when(a_first, F.col("node_b")).otherwise(F.col("node_a")).alias("dst"),
    )
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"], "left_semi")
    arr = F.array_sort(F.array("u", "v", "w"))
    return tri.select(
        arr[0].alias("node_a"), arr[1].alias("node_b"), arr[2].alias("node_c")
    )


# ---------------------------------------------------------------------------
# d64 — neighborhood label vote (one label-propagation round) over the
# mutual-kNN graph: the label-consistency audit.
# ---------------------------------------------------------------------------
@spark_query(
    "d64_label_vote",
    _knn_graph_cte()
    + """,
    und AS (
      SELECT node_a AS node, node_b AS nbr FROM edges
      UNION ALL
      SELECT node_b, node_a FROM edges
    ),
    votes AS (
      SELECT u.node, e.label, CAST(count(*) AS BIGINT) AS n_votes
      FROM und u JOIN embeddings e ON e.vec_id = u.nbr
      GROUP BY u.node, e.label
    ),
    top AS (
      SELECT node, label AS voted_label, n_votes FROM (
        SELECT node, label, n_votes,
               row_number() OVER (PARTITION BY node
                   ORDER BY n_votes DESC, label ASC) AS r
        FROM votes) WHERE r = 1
    )
    SELECT t.node AS vec_id,
           CAST(e.label AS BIGINT) AS own_label,
           CAST(t.voted_label AS BIGINT) AS voted_label,
           t.n_votes,
           CAST(e.label = t.voted_label AS BOOLEAN) AS agree
    FROM top t JOIN embeddings e ON e.vec_id = t.node
    """,
)
def d64_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of majority label propagation over the mutual-kNN
    graph, reported as a per-node audit: does the neighborhood
    consensus agree with the node's own label? The disagreeing nodes
    are the mislabel/outlier candidates a curation pass reviews.
    Scale shape: the edge list is the narrow mutual-kNN table; the
    vote is a (node, label) groupBy; the argmax is a per-node window
    over at most |labels| rows — every stage keyed, nothing global."""
    embs = load_table(spark, sf_dir, "embeddings")
    labels = embs.select("vec_id", F.col("label").cast("long").alias("label"))
    edges = _mutual_knn_edges(spark, sf_dir).select("node_a", "node_b")
    und = edges.select(
        F.col("node_a").alias("node"), F.col("node_b").alias("nbr")
    ).unionAll(
        edges.select(F.col("node_b").alias("node"), F.col("node_a").alias("nbr"))
    )
    votes = (
        und.join(
            labels.select(F.col("vec_id").alias("nbr"), "label"), "nbr"
        )
        .groupBy("node", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    top = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "node", F.col("label").alias("voted_label"), "n_votes"
        )
    )
    return top.join(
        labels.select(
            F.col("vec_id"), F.col("label").alias("own_label")
        ),
        top["node"] == F.col("vec_id"),
    ).select(
        "vec_id",
        "own_label",
        "voted_label",
        "n_votes",
        (F.col("own_label") == F.col("voted_label")).alias("agree"),
    )


# ---------------------------------------------------------------------------
# d65 — Bloom-filter membership audit (the pre-join pruning sketch,
# measured against exact membership).
# ---------------------------------------------------------------------------
_BLOOM_M = 1024
_BLOOM_K = 4


def _bloom_oracle() -> str:
    from ..operators.text import portable_hash_sql

    def pos(j: int) -> str:
        return portable_hash_sql(
            f"'bf{j}:' || shingle", _BLOOM_M
        )

    build_pos = " UNION ALL ".join(
        f"SELECT ({pos(j)}) AS p FROM bench" for j in range(_BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT doc_id, shingle, ({pos(j)}) AS p FROM corp"
        for j in range(_BLOOM_K)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20),
    bpos AS ({build_pos}),
    bloom AS (
      SELECT p >> 5 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (p & 31)) AS bits
      FROM bpos GROUP BY 1
    ),
    cpos AS ({probe_pos}),
    chk AS (
      SELECT doc_id, shingle,
             min(CASE WHEN (coalesce(b.bits, 0)
                            & (CAST(1 AS BIGINT) << (p & 31))) != 0
                 THEN 1 ELSE 0 END) AS member
      FROM cpos LEFT JOIN bloom b ON b.word_idx = p >> 5
      GROUP BY doc_id, shingle
    ),
    tru AS (
      SELECT doc_id, shingle,
             CASE WHEN shingle IN (SELECT shingle FROM bench)
                  THEN 1 ELSE 0 END AS tm
      FROM corp
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(c.member) AS BIGINT) AS n_bloom_hits,
           CAST(sum(t.tm) AS BIGINT) AS n_true_hits
    FROM chk c JOIN tru t ON c.doc_id = t.doc_id AND c.shingle = t.shingle
    GROUP BY c.doc_id
    """


@spark_query("d65_bloom_membership", _bloom_oracle())
def d65_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning, audited: build the filter over
    the benchmark shingle set (docs < 20 — d24's decontamination
    split), probe every corpus shingle, and report per-doc bloom hits
    next to exact hits (bloom ≥ exact; the gap is the false-positive
    cost at m=1024, k=4). At 100 TB this is the sketch that prunes a
    shuffle: the word table (≤32 rows) broadcasts and non-member rows
    drop map-side before the expensive exact semi-join."""
    from ..operators import sketch

    docs = _docs(spark, sf_dir)
    sh = dedup.shingle_table(docs, n=3)
    bench = sh.filter(F.col("doc_id") < 20).select("shingle").distinct()
    corp = sh.filter(F.col("doc_id") >= 20)
    bloom = sketch.bloom_build(bench, "shingle", _BLOOM_M, _BLOOM_K)
    probed = sketch.bloom_probe(
        corp, "shingle", bloom, _BLOOM_M, _BLOOM_K, out_col="member"
    )
    tru = corp.join(F.broadcast(bench), "shingle", "left_semi").select(
        "doc_id", "shingle", F.lit(1).alias("tm")
    )
    j = probed.join(tru, ["doc_id", "shingle"], "left").select(
        "doc_id", "member", F.coalesce("tm", F.lit(0)).alias("tm")
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("member").cast("long").alias("n_bloom_hits"),
        F.sum("tm").cast("long").alias("n_true_hits"),
    )


# ---------------------------------------------------------------------------
# d66 — sorted-neighborhood dedup (blocking by sort order, not hash).
# ---------------------------------------------------------------------------
_SN_WINDOW = 3
_SN_THRESHOLD = 0.3
_SN_KEY_CHARS = 32


@spark_query(
    "d66_sorted_neighborhood",
    f"""
    WITH ranked AS (
      SELECT doc_id, substr(text, 1, {_SN_KEY_CHARS}) AS bk,
             list_distinct(string_split(text, ' ')) AS toks,
             row_number() OVER (
               ORDER BY substr(text, 1, {_SN_KEY_CHARS}), doc_id) AS rn
      FROM documents
    ),
    offs AS (SELECT unnest(range(1, {_SN_WINDOW} + 1)) AS off),
    pairs AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
      FROM ranked a
      JOIN offs ON true
      JOIN ranked b ON b.rn = a.rn + offs.off
    )
    SELECT doc_id_1, doc_id_2, jaccard
    FROM pairs WHERE jaccard >= {_SN_THRESHOLD}
    """,
)
def d66_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup: block by SORT ORDER instead of hash
    buckets — sort on a prefix key, compare each record only with its
    next W neighbors in the global order, keep pairs above a token-set
    Jaccard threshold. The classic entity-resolution alternative to
    LSH: catches near-dups whose edits fall outside any shared hash
    bucket but not outside lexicographic locality.

    Scale shape: the global rank is the quantile-bucket renumber (two
    small jobs, no single-partition window); the W-neighbor pairing is
    an EQUI-join on rank+offset (offsets exploded, never a range
    predicate), so it shuffles on an 8-byte integer and each row meets
    exactly W others regardless of corpus size."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring("text", 1, _SN_KEY_CHARS).alias("bk"),
        F.array_distinct(text.tokens("text")).alias("toks"),
    )
    from ..operators.renumber import contiguous_row_number

    ranked = contiguous_row_number(
        docs, order_by=["bk", "doc_id"], out_col="rn"
    )
    offs = spark.range(1, _SN_WINDOW + 1).select(
        F.col("id").alias("off")
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("toks").alias("toks_1"),
        F.col("rn").alias("rn_1"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("toks").alias("toks_2"),
        F.col("rn").alias("rn_2"),
    )
    pairs = (
        a.crossJoin(F.broadcast(offs))
        .withColumn("rn_2", F.col("rn_1") + F.col("off"))
        .join(b, "rn_2")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("toks_1", "toks_2")).cast("double")
                / F.size(F.array_union("toks_1", "toks_2")),
                6,
            ),
        )
    )
    return pairs.filter(F.col("jaccard") >= _SN_THRESHOLD).select(
        "doc_id_1", "doc_id_2", "jaccard"
    )


# ---------------------------------------------------------------------------
# d67 — cross-source duplication leakage matrix.
# ---------------------------------------------------------------------------
def _leakage_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    return f"""{_minhash_pairs_cte(0.5)},
    lab AS (
      SELECT p.doc_id_1, p.doc_id_2, da.source AS s1, db.source AS s2
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_1
      JOIN documents db ON db.doc_id = p.doc_id_2
    )
    SELECT least(s1, s2) AS source_a, greatest(s1, s2) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2
    """


@spark_query("d67_cross_source_leakage", _leakage_oracle())
def d67_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: near-dup pairs (d07's banded
    MinHash) labeled with each side's source, aggregated into a
    symmetric (source_a, source_b) matrix — the audit that finds
    mirror sites and cross-source scrape overlap before training
    over-weights their shared content. The pair list is sketch-bounded
    (never all-pairs); the source labels join on doc_id and the matrix
    is a tiny groupBy."""
    docs = _docs(spark, sf_dir)
    # pair list served from the shared signature substrate (round 7)
    from ..operators import text_substrate

    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.select("doc_id_1", "doc_id_2")
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_1"), F.col("source").alias("s1")
            ),
            "doc_id_1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_2"), F.col("source").alias("s2")
            ),
            "doc_id_2",
        )
    )
    return lab.groupBy(
        F.least("s1", "s2").alias("source_a"),
        F.greatest("s1", "s2").alias("source_b"),
    ).agg(F.count("*").cast("long").alias("n_pairs"))
