"""Round-6 wave (post-window additions; these prove in the round-7
driver window per the staging rule):

- d140 — mixture epoch planner: given a token budget and the
  temperature-scaled source weights (d128's rule at one α), how many
  epochs does each source repeat, and how much of its allocation is
  unique text? The planning table behind every multi-source training
  mix (sources whose allocation exceeds one epoch repeat data).
- d141 — cross-split near-dup leakage audit: d07's MinHash-LSH pair
  list (served from the shared signature substrate) classified by the
  endpoints' deterministic train/val/test buckets (d86's portable-hash
  split) — how much near-duplicate mass crosses split boundaries when
  splitting doc-wise. The measurement that motivates d142.
- d142 — cluster-safe split: assign whole near-dup CLUSTERS (connected
  components over the LSH pairs, d31's semantics; singletons are their
  own cluster) to train/val/test by hashing the cluster
  representative — by construction zero near-dup pairs cross splits.
  Output audits the allocation per split.

Reference scope: beyond-reference LLM-data-curation surface (the brief
asks for training-data pipeline operations); the reference pipeline
(five pandas Lambdas) has no counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text_substrate
from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .llm_data import _minhash_pairs_cte
from .registry import spark_query


# ---------------------------------------------------------------------------
# d140 — mixture epoch planner.
# ---------------------------------------------------------------------------
# temperature α = 0.5 (d128's middle setting), stated as sqrt() in
# both engines — see the determinism note inside the oracle
_MIX_BUDGET = 2_000_000  # planned training tokens


def _d140_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT source, sum(len(string_split(text, ' '))) AS toks
      FROM documents GROUP BY 1
    ),
    sh AS (
      SELECT source, toks,
             CAST(toks AS DOUBLE) / sum(toks) OVER () AS share
      FROM s
    ),
    q AS (
      -- α = 0.5 is stated as sqrt(), which is correctly rounded in
      -- every IEEE engine; pow() is only 1-ulp-accurate and differs
      -- between JVM Math.pow and C libm — the d95/q61 failure class.
      -- sqrt(share) is then QUANTIZED to 1e-9 integer units (the d145
      -- rule) so the renormalizing sum is an exact integer sum —
      -- order-free — instead of a float accumulation whose order an
      -- unordered window over shuffled rows doesn't fix.
      SELECT source, toks, share,
             CAST(floor(sqrt(share) * 1000000000.0 + 0.5) AS BIGINT) AS qs
      FROM sh
    ),
    w AS (
      SELECT source, toks, share,
             CAST(qs AS DOUBLE) / CAST(sum(qs) OVER () AS DOUBLE) AS weight
      FROM q
    )
    SELECT source,
           CAST(toks AS BIGINT) AS n_tokens,
           CAST(round(share, 6) AS DOUBLE) AS nat_share,
           CAST(round(weight, 6) AS DOUBLE) AS weight,
           CAST(round({_MIX_BUDGET} * weight, 2) AS DOUBLE) AS alloc_tokens,
           CAST(round({_MIX_BUDGET} * weight / toks, 6) AS DOUBLE) AS epochs,
           {_MIX_BUDGET} * weight / toks > 1.0 AS repeats,
           CAST(round(least(CAST(toks AS DOUBLE), {_MIX_BUDGET} * weight)
                      / ({_MIX_BUDGET} * weight), 6) AS DOUBLE)
             AS unique_frac
    FROM w ORDER BY source
    """


@spark_query("d140_mix_epochs", _d140_oracle())
def d140_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan for a temperature-weighted mixture
    (α = 0.5, 2M-token budget): allocation = budget × weight, epochs =
    allocation / source tokens, unique_frac = the deduplicated share
    of the allocation (< 1 once a source repeats). Everything after
    the one per-source token aggregate is arithmetic over the
    source-count-sized table (renormalizing sums are windows over that
    same tiny table — same shape d128 proved). At 100 TB the plan
    costs one map + one partial-agg shuffle of (source, count).

    Determinism (the d95/q61 rule): the token sums and their window
    total are exact integer sums; sqrt is correctly rounded in every
    IEEE engine (pow is not); and the renormalizing Σsqrt(share) —
    the one float reduction here — is computed as an exact integer
    sum of 1e-9-quantized values (d145's fixed-point discipline), so
    its value cannot depend on the engine-specific, run-to-run
    accumulation order of an unordered window over shuffled rows."""
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("toks"))
    )
    w_all = Window.partitionBy()
    share = F.col("toks").cast("double") / F.sum("toks").over(w_all)
    sh = s.select("source", "toks", share.alias("share"))
    # sqrt, not pow(·, 0.5): correctly rounded in both engines (the
    # d95/q61 cross-engine determinism rule); quantized to integer
    # units so the window sum below is order-free
    qs = F.floor(F.sqrt("share") * F.lit(1e9) + F.lit(0.5)).cast("long")
    q = sh.select("source", "toks", "share", qs.alias("qs"))
    weight = F.col("qs").cast("double") / F.sum("qs").over(w_all).cast(
        "double"
    )
    w = q.select("source", "toks", "share", weight.alias("weight"))
    alloc = F.lit(float(_MIX_BUDGET)) * F.col("weight")
    return w.select(
        "source",
        F.col("toks").alias("n_tokens"),
        F.round("share", 6).alias("nat_share"),
        F.round("weight", 6).alias("weight"),
        F.round(alloc, 2).alias("alloc_tokens"),
        F.round(alloc / F.col("toks"), 6).alias("epochs"),
        (alloc / F.col("toks") > 1.0).alias("repeats"),
        F.round(
            F.least(F.col("toks").cast("double"), alloc) / alloc, 6
        ).alias("unique_frac"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# d141 — cross-split near-dup leakage audit.
# ---------------------------------------------------------------------------
def _split_case_sql(key: str) -> str:
    h = portable_hash_sql(f"CAST({key} AS VARCHAR)")
    return (
        f"CASE WHEN {h} % 100 < 90 THEN 'train' "
        f"WHEN {h} % 100 < 95 THEN 'val' ELSE 'test' END"
    )


def _d141_oracle() -> str:
    return f"""{_minhash_pairs_cte(0.5)},
    assigned AS (
      SELECT doc_id, {_split_case_sql("doc_id")} AS split FROM documents
    ),
    labeled AS (
      SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b
      FROM pairs p
      JOIN assigned a ON a.doc_id = p.doc_id_1
      JOIN assigned b ON b.doc_id = p.doc_id_2
    )
    SELECT split_a, split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (), 6) AS DOUBLE) AS pair_share,
           split_a <> split_b AS is_leakage
    FROM labeled GROUP BY 1, 2 ORDER BY 1, 2
    """


def _split_col(key) -> F.Column:
    bucket = F.pmod(portable_hash(key.cast("string")), F.lit(100))
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


@spark_query("d141_split_leakage", _d141_oracle())
def d141_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much near-duplicate mass crosses train/val/test boundaries
    under the doc-wise portable-hash split (d86's rule): the LSH pair
    list — served from the shared MinHash-signature substrate, the
    same artifact d07/d108/d115 read — classified by its endpoints'
    split buckets. Cross-split rows are test-set contamination the
    doc-wise split cannot avoid; d142 is the fix. Pair list is
    near-dup-sized, split lookup is a broadcast join, output is at
    most 6 rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    assigned = F.broadcast(
        docs.select("doc_id", _split_col(F.col("doc_id")).alias("split"))
    )
    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    labeled = (
        pairs.join(
            assigned.select(
                F.col("doc_id").alias("doc_id_1"), F.col("split").alias("sa")
            ),
            "doc_id_1",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("doc_id_2"), F.col("split").alias("sb")
            ),
            "doc_id_2",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
    )
    w_all = Window.partitionBy()
    return (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double")
                / F.sum("n_pairs").over(w_all),
                6,
            ).alias("pair_share"),
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .orderBy("split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# d142 — cluster-safe split (near-dup clusters never straddle splits).
# ---------------------------------------------------------------------------
def _d142_oracle() -> str:
    cte = _minhash_pairs_cte(0.5).replace("WITH toks", "WITH RECURSIVE toks", 1)
    return f"""{cte},
    nodes AS (
      SELECT doc_id_1 AS node FROM pairs
      UNION SELECT doc_id_2 FROM pairs
    ),
    edges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
    clustered AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    assigned AS (
      SELECT doc_id, cluster_id,
             {_split_case_sql("cluster_id")} AS split
      FROM clustered
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (), 6) AS DOUBLE) AS doc_share
    FROM assigned GROUP BY 1 ORDER BY 1
    """


@spark_query("d142_cluster_safe_split", _d142_oracle())
def d142_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage-free split: hash the near-dup CLUSTER representative
    (connected components over the substrate-served LSH pairs, d31's
    min-label semantics; docs in no pair are their own cluster), so an
    entire duplicate family lands in one split — by construction zero
    cross-split near-dup pairs (the d141 metric goes to zero). The
    component fixpoint runs over the near-dup-sized edge list only;
    the corpus-wide work is one broadcast-joined hash bucket. Output:
    per-split doc/cluster counts and doc share."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # components served from the materialized (dataset, threshold)
    # artifact — shared with d150; connected_components over the pair
    # list remains the standalone semantic twin (equivalence pinned in
    # tests/test_text_substrate.py)
    comp = text_substrate.lsh_components(spark, sf_dir, threshold=0.5).select(
        F.col("node").alias("doc_id"), "component"
    )
    clustered = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("cluster_id"),
    )
    assigned = clustered.select(
        "doc_id",
        "cluster_id",
        _split_col(F.col("cluster_id")).alias("split"),
    )
    w_all = Window.partitionBy()
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all),
                6,
            ).alias("doc_share"),
        )
        .orderBy("split")
    )
