"""Round-8 wave 57 — graph-cluster quality + distribution shift:

- d199 — Newman modularity of the tight (0.7) near-dup clustering
  evaluated on the loose (0.5) LSH pair graph: per cluster, its
  within-edge mass, degree mass, and exact-rational modularity
  contribution (4mw - d²)/(4m²) — THE standard graph-clustering
  quality score, closing the cluster-QA triangle with d150
  (cohesion) and d156 (threshold stability). Nodes of the loose
  graph outside any tight cluster count as singletons.
- d200 — pairwise 1-D Wasserstein (earth-mover) distance between
  source length distributions, EXACT-INTEGER inner loop: with
  bucketed lengths, W1 = bucket_width x sum over the distinct-bucket
  axis of |cdfA - cdfB| x span, computed as
  |cumA*nB - cumB*nA| x span summed in BIGINT and divided once —
  the distribution-shift measure that (unlike d135's KS sup-norm)
  integrates the whole gap, and (unlike d120's PSI) needs no
  smoothing.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d199 — modularity of the tight clustering on the loose pair graph.
# ---------------------------------------------------------------------------
_MOD_GRAPH_T = 0.5
_MOD_CLUSTER_T = 0.7


def _d199_oracle() -> str:
    from .llm_data import _minhash_pairs_cte

    cte = _minhash_pairs_cte(_MOD_GRAPH_T).replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    cte = cte.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
    return f"""{cte},
    tight AS (
      SELECT doc_id_1, doc_id_2 FROM pairs
      WHERE est_jaccard >= {_MOD_CLUSTER_T}
    ),
    tnodes AS (
      SELECT doc_id_1 AS node FROM tight
      UNION SELECT doc_id_2 FROM tight
    ),
    tedges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM tight
      UNION SELECT doc_id_2, doc_id_1 FROM tight
    ),
    reach(a, b) AS (
      SELECT node, node FROM tnodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN tedges e ON r.b = e.a
    ),
    tcomp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
    gnodes AS (
      -- explicit outer DISTINCT: in DuckDB 1.0 this UNION, placed
      -- after the recursive reach CTE in the same WITH chain, fails
      -- to deduplicate nodes that also appear in tnodes
      SELECT DISTINCT node FROM (
        SELECT doc_id_1 AS node FROM pairs
        UNION ALL SELECT doc_id_2 FROM pairs
      )
    ),
    assign AS (
      SELECT g.node, coalesce(t.component, g.node) AS cluster_id
      FROM gnodes g LEFT JOIN tcomp t ON g.node = t.node
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT doc_id_1 AS node FROM pairs
        UNION ALL SELECT doc_id_2 FROM pairs
      ) GROUP BY node
    ),
    win AS (
      SELECT a1.cluster_id, CAST(count(*) AS BIGINT) AS w_in
      FROM pairs p
      JOIN assign a1 ON p.doc_id_1 = a1.node
      JOIN assign a2 ON p.doc_id_2 = a2.node
      WHERE a1.cluster_id = a2.cluster_id
      GROUP BY a1.cluster_id
    ),
    dsum AS (
      SELECT a.cluster_id,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.k) AS BIGINT) AS d_sum
      FROM assign a JOIN deg d ON a.node = d.node
      GROUP BY a.cluster_id
    )
    SELECT ds.cluster_id, n_nodes,
           coalesce(w.w_in, 0) AS w_in, d_sum,
           round(CAST(4 * m.m * coalesce(w.w_in, 0) - d_sum * d_sum
                      AS DOUBLE) / (4.0 * m.m * m.m), 6)
             AS q_contrib
    FROM dsum ds
    LEFT JOIN win w ON ds.cluster_id = w.cluster_id
    CROSS JOIN m
    ORDER BY ds.cluster_id
    """


@spark_query("d199_cluster_modularity", _d199_oracle())
def d199_cluster_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the tight (est >= 0.7) near-dup
    clustering against the loose (est >= 0.5) pair graph: per
    cluster, node count, within-cluster edge count, total degree, and
    the exact-rational contribution (4mw - d²)/(4m²) — summed over
    rows this is Q, the standard "is this clustering better than
    chance?" score (high Q = tight clusters split the loose graph
    along real boundaries; Q near 0 = the 0.7 cut is arbitrary).
    The graph is the substrate-served pair list; tight clusters are
    the filtered pair list's components (the d156 move); everything
    downstream runs on pair/cluster-bounded tables."""
    from ..operators import text_substrate

    pairs = text_substrate.lsh_pairs(
        spark, sf_dir, threshold=_MOD_GRAPH_T
    ).select("doc_id_1", "doc_id_2", "est_jaccard").localCheckpoint()
    tight = pairs.filter(F.col("est_jaccard") >= _MOD_CLUSTER_T)
    tcomp = connected_components(tight)
    gnodes = (
        pairs.select(F.col("doc_id_1").alias("node"))
        .union(pairs.select(F.col("doc_id_2").alias("node")))
        .distinct()
    )
    assign = gnodes.join(
        tcomp.withColumnRenamed("component", "cluster_id"), "node", "left"
    ).select(
        "node", F.coalesce("cluster_id", "node").alias("cluster_id")
    ).localCheckpoint()
    m = pairs.agg(F.count("*").alias("m"))
    deg = (
        pairs.select(F.col("doc_id_1").alias("node"))
        .unionAll(pairs.select(F.col("doc_id_2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("k"))
    )
    a1 = assign.select(
        F.col("node").alias("doc_id_1"), F.col("cluster_id").alias("c1")
    )
    a2 = assign.select(
        F.col("node").alias("doc_id_2"), F.col("cluster_id").alias("c2")
    )
    win = (
        pairs.join(a1, "doc_id_1")
        .join(a2, "doc_id_2")
        .filter(F.col("c1") == F.col("c2"))
        .groupBy(F.col("c1").alias("cluster_id"))
        .agg(F.count("*").alias("w_in"))
    )
    dsum = (
        assign.join(deg, "node")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("k").alias("d_sum"),
        )
    )
    return (
        dsum.join(win, "cluster_id", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "cluster_id",
            "n_nodes",
            F.coalesce("w_in", F.lit(0)).alias("w_in"),
            "d_sum",
            F.round(
                (
                    4 * F.col("m") * F.coalesce("w_in", F.lit(0))
                    - F.col("d_sum") * F.col("d_sum")
                ).cast("double")
                / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("q_contrib"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# d200 — pairwise 1-D Wasserstein distance between source length
# distributions.
# ---------------------------------------------------------------------------
_W1_BUCKET = 50  # chars per bucket


@spark_query(
    "d200_wasserstein_drift",
    f"""
    WITH b AS (
      SELECT source, CAST(n_chars AS BIGINT) // {_W1_BUCKET} AS bucket,
             count(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    buckets AS (SELECT DISTINCT bucket FROM b),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY source
    ),
    grid AS (
      SELECT s.source, s.n, k.bucket, coalesce(b.c, 0) AS c
      FROM srcs s CROSS JOIN buckets k
      LEFT JOIN b ON b.source = s.source AND b.bucket = k.bucket
    ),
    cum AS (
      SELECT source, n, bucket,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(coalesce(lead(bucket) OVER (PARTITION BY source
                 ORDER BY bucket) - bucket, 0) AS BIGINT) AS span
      FROM grid
    ),
    pairdist AS (
      SELECT a.source AS src_a, b.source AS src_b,
             max(a.n) AS n_a, max(b.n) AS n_b,
             CAST(sum(abs(a.cum * b.n - b.cum * a.n) * a.span)
                  AS BIGINT) AS d_num
      FROM cum a JOIN cum b
        ON a.bucket = b.bucket AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(CAST(d_num AS DOUBLE) * {_W1_BUCKET}
                 / (CAST(n_a AS DOUBLE) * n_b), 6) AS w1_chars
    FROM pairdist ORDER BY src_a, src_b
    """,
)
def d200_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 1-D Wasserstein (earth-mover) distance between source
    length distributions (bucketed at 50 chars): W1 integrates the
    whole CDF gap, so it catches shifts d135's KS sup-norm understates
    and needs none of d120's PSI smoothing. The inner loop is EXACT
    integer arithmetic — |cumA*nB - cumB*nA| x inter-bucket span
    summed in BIGINT (cross-multiplied CDFs; one double division per
    pair at the end). The corpus collapses to (source, bucket) counts
    map-side; the CDF windows run per source over the bucket-bounded
    axis, and the pair join is bucket-keyed over sources x buckets
    rows — never over documents."""
    b = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "source",
            (F.col("n_chars").cast("long") / _W1_BUCKET)
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count("*").alias("c"))
    )
    buckets = b.select("bucket").distinct()
    srcs = b.groupBy("source").agg(F.sum("c").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(buckets))
        .join(b, ["source", "bucket"], "left")
        .select(
            "source", "n", "bucket", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    ws = Window.partitionBy("source").orderBy("bucket")
    cum = grid.select(
        "source",
        "n",
        "bucket",
        F.sum("c")
        .over(ws.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.coalesce(
            F.lead("bucket").over(ws) - F.col("bucket"), F.lit(0)
        ).alias("span"),
    )
    a = cum.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("n_a"),
        "bucket",
        F.col("cum").alias("cum_a"),
        F.col("span").alias("span_a"),
    )
    c2 = cum.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("n_b"),
        "bucket",
        F.col("cum").alias("cum_b"),
    )
    pair = (
        a.join(c2, "bucket")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(
                F.abs(
                    F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")
                )
                * F.col("span_a")
            ).alias("d_num"),
        )
    )
    return pair.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.round(
            F.col("d_num").cast("double")
            * _W1_BUCKET
            / (F.col("n_a").cast("double") * F.col("n_b")),
            6,
        ).alias("w1_chars"),
    ).orderBy("src_a", "src_b")
