"""Round-4 fifth wave: pipeline-health and linear-algebra operators —

- q96 — referential-integrity audit: orphan counts for every FK edge
  in the star schema, one report row per edge.
- q97 — ordered string aggregation: each customer's chronological
  order-status journey as one string (listagg with a deterministic
  ORDER BY).
- q98 — deterministic mode per group (modal value bucket per event
  type, ties to the smallest bucket).
- d104 — grouped-jackknife variance: leave-one-source-out standard
  error of the corpus mean document length.
- d105 — embedding gram matrix (XᵀX) via Arrow-batched partial outer
  products — the distributed front-end of PCA.
- d106 — PCA top component by power iteration over d105's gram (the
  RowMatrix.computePrincipalComponents shape: distribute the Gramian,
  eigen-solve the tiny matrix on the driver).

Scale notes: q96 touches each child table once per edge (dimension
edges broadcast, the lineitem→orders edge a co-keyed shuffle); q97/q98
shuffle once on their group key; d104 is a 20-row aggregate plus
arithmetic; d105 moves only 2,080 partial cells per batch regardless
of row count — the O(n·d²) work happens inside numpy per Arrow batch,
and the shuffle is dimension-sized; d106 adds driver math on a 64×64
matrix (bounded, metadata-sized — the same division of labor Spark
MLlib's PCA uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# q96 — FK orphan audit across the whole star schema.
# ---------------------------------------------------------------------------
_FK_EDGES: list[tuple[str, str, str, str, str]] = [
    # (edge label, child table, child key, parent table, parent key)
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _fk_oracle() -> str:
    parts = []
    for label, child, ckey, parent, pkey in _FK_EDGES:
        parts.append(
            f"""
      SELECT '{label}' AS edge, count(*) AS n_child,
             CAST(count(*) FILTER (p.{pkey} IS NULL) AS BIGINT) AS n_orphans
      FROM {child} c LEFT JOIN (SELECT DISTINCT {pkey} FROM {parent}) p
        ON c.{ckey} = p.{pkey}"""
        )
    return "SELECT * FROM (" + " UNION ALL ".join(parts) + ") ORDER BY edge"


@spark_query("q96_fk_orphan_audit", _fk_oracle())
def q96_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health check: for every FK edge, how many child rows
    point at a missing parent. Each edge is one pass over its child
    table — a LEFT join against the parent's distinct key set with a
    conditional count, so present/orphan both come from the same join
    (never two scans). Dimension parents broadcast; the two fact-fact
    edges (lineitem→orders, orders→customer) shuffle co-keyed on the
    FK. Six edge reports union to a 6-row table. The reference's
    ledger anti-join (J2, `operators/ledger.py`) is the single-edge
    special case of this audit."""
    out = None
    for label, child, ckey, parent, pkey in _FK_EDGES:
        parents = load_table(spark, sf_dir, parent).select(pkey).distinct()
        if parent in ("nation", "supplier", "part", "customer"):
            parents = F.broadcast(parents)
        edge = (
            load_table(spark, sf_dir, child)
            .select(ckey)
            .join(parents, F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.lit(label).alias("edge"),
                F.count("*").alias("n_child"),
                F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
            )
            .select("edge", "n_child", "n_orphans")
        )
        out = edge if out is None else out.unionByName(edge)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# q97 — customer order-status journey (ordered listagg).
# ---------------------------------------------------------------------------
@spark_query(
    "q97_customer_journey",
    """
    SELECT o_custkey AS c_custkey, count(*) AS n_orders,
           string_agg(o_orderstatus, '' ORDER BY o_orderdate, o_orderkey)
             AS journey
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def q97_customer_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's order statuses concatenated in chronological
    order — LISTAGG ... WITHIN GROUP with a FULL deterministic sort
    key ((orderdate, orderkey) — date alone would leave same-day ties
    engine-defined). Spark has no ordered collect: the portable
    rewrite is collect_list of (sort-key, value) structs, sort_array
    on the struct (row-local), then project+join — one shuffle on the
    group key, partial collect_list map-side, per-group state bounded
    by orders/customer."""
    o = load_table(spark, sf_dir, "orders")
    packed = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("o_orderdate"), F.col("o_orderkey"), F.col("o_orderstatus")
            )
        )
    )
    return (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.array_join(
                F.transform(packed, lambda s: s.getField("o_orderstatus")), ""
            ).alias("journey"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q98 — deterministic per-group mode.
# ---------------------------------------------------------------------------
@spark_query(
    "q98_modal_value_bucket",
    """
    WITH c AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, bucket AS modal_bucket, n
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY n DESC, bucket ASC) AS r
      FROM c
    ) WHERE r = 1 ORDER BY event_type
    """,
)
def q98_modal_value_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent integer value bucket per event type. Built-in
    `mode()` breaks ties arbitrarily in BOTH engines — useless under
    a value-hash gate — so the mode is computed as count-then-argmin
    of (-n, bucket): ties go to the smallest bucket, deterministically.
    Two key-shuffles (the (type, bucket) count, then the per-type
    argmin via min-of-struct — an ALL-aggregate path, no window, no
    sort)."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.floor("value").cast("long").alias("bucket")
        )
        .agg(F.count("*").alias("n"))
    )
    best = c.groupBy("event_type").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("bucket"))).alias(
            "b"
        )
    )
    return best.select(
        "event_type",
        F.col("b.bucket").alias("modal_bucket"),
        (-F.col("b.neg_n")).alias("n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# d104 — grouped-jackknife SE of the corpus mean doc length.
# ---------------------------------------------------------------------------
@spark_query(
    "d104_jackknife_variance",
    """
    WITH g AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) AS s, count(*) AS n
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(s) AS st, sum(n) AS nt, count(*) AS ng FROM g),
    loo AS (
      SELECT (tot.st - g.s) / (tot.nt - g.n) AS m, tot.ng AS ng
      FROM g, tot
    )
    SELECT CAST(max(ng) AS BIGINT) AS n_sources,
           CAST(round((SELECT st / nt FROM tot), 6) AS DOUBLE) AS mean_chars,
           CAST(round(sqrt((max(ng) - 1.0) / max(ng)
                 * sum((m - (SELECT avg(m) FROM loo))
                     * (m - (SELECT avg(m) FROM loo)))), 6) AS DOUBLE)
             AS jk_se
    FROM loo
    """,
)
def d104_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How trustworthy is the corpus mean document length? The
    delete-one-GROUP jackknife (sources are the natural correlated
    sampling unit — doc-level iid SE would be too optimistic):
    m_i = leave-source-i-out mean, SE² = (g−1)/g · Σ(m_i − m̄)².
    Everything derives from ONE source-sized aggregate (20 rows):
    totals broadcast back via crossJoin, the variance is an aggregate
    over the 20 leave-out means. No resampling, no data duplication —
    the classic trick for CI estimation at 100-TB scale where
    bootstrap replication of the corpus is unaffordable."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum("n_chars").cast("double").alias("s"),
            F.count("*").alias("n"),
        )
    )
    tot = g.agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt"), F.count("*").alias("ng")
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))).alias("m"),
        "ng",
        (F.col("st") / F.col("nt")).alias("mean_all"),
    )
    mbar = loo.agg(F.avg("m").alias("mbar"))
    dev = loo.crossJoin(F.broadcast(mbar))
    return dev.agg(
        F.max("ng").alias("n_sources"),
        F.round(F.max("mean_all"), 6).alias("mean_chars"),
        F.round(
            F.sqrt(
                (F.max("ng") - 1.0)
                / F.max("ng")
                * F.sum(
                    (F.col("m") - F.col("mbar")) * (F.col("m") - F.col("mbar"))
                )
            ),
            6,
        ).alias("jk_se"),
    )


# ---------------------------------------------------------------------------
# d105 — embedding gram matrix (XᵀX) via Arrow-batched partial outer
# products.
# ---------------------------------------------------------------------------
N_DIM = 64

_GRAM_SQL = f"""
      SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
             round(sum(CAST(e.embedding[a.i] AS DOUBLE)
                     * CAST(e.embedding[b.i] AS DOUBLE)), 4) AS v
      FROM embeddings e,
           (SELECT unnest(range(1, {N_DIM + 1})) AS i) a,
           (SELECT unnest(range(1, {N_DIM + 1})) AS i) b
      WHERE a.i <= b.i
      GROUP BY 1, 2
"""


def _gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle XᵀX of the embedding matrix, partial-aggregated
    per Arrow batch: numpy computes the batch's d×d outer-product sum
    (O(b·d²) flops, zero Python-per-row cost), each batch emits 2,080
    cells, and one dimension-sized shuffle merges the partials. The
    row count never crosses the wire — this is how a Gramian is built
    over 100 TB of vectors. Cells round to 4 decimals so downstream
    consumers (d106) start from bit-identical matrices in both
    engines."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(N_DIM)

    def partial_gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            G = X.T @ X
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"), "v": G[iu, ju]}
            )

    partials = (
        load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(partial_gram, "i int, j int, v double")
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.round(F.sum("v"), 4).alias("v"))
    )


@spark_query("d105_gram_matrix", f"SELECT * FROM ({_GRAM_SQL}) ORDER BY i, j")
def d105_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gram(spark, sf_dir).orderBy("i", "j")


# ---------------------------------------------------------------------------
# d106 — PCA top component via power iteration on the gram.
# ---------------------------------------------------------------------------
_N_ITER = 4


def _pca_oracle() -> str:
    # full (symmetrized) gram, then _N_ITER unrolled matvec+normalize
    # rounds from the fixed start v0 = 1/sqrt(d).
    sql = f"""
    WITH gu AS ({_GRAM_SQL}),
    g AS (
      SELECT i, j, v FROM gu
      UNION ALL
      SELECT j AS i, i AS j, v FROM gu WHERE i < j
    ),
    v0 AS (SELECT unnest(range(0, {N_DIM})) AS dim,
                  1.0 / sqrt({N_DIM}) AS loading)
    """
    prev = "v0"
    for k in range(1, _N_ITER + 1):
        sql += f"""
    , w{k} AS (
      SELECT g.i AS dim, sum(g.v * p.loading) AS w
      FROM g JOIN {prev} p ON g.j = p.dim GROUP BY 1
    ),
    v{k} AS (
      SELECT dim, w / sqrt((SELECT sum(w * w) FROM w{k})) AS loading
      FROM w{k}
    )"""
        prev = f"v{k}"
    sql += f"""
    SELECT CAST(dim AS INT) AS dim,
           CAST(round(loading, 5) AS DOUBLE) AS loading
    FROM {prev} ORDER BY dim
    """
    return sql


@spark_query("d106_pca_top_component", _pca_oracle())
def d106_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud: d105's
    distributed Gramian, then four power-iteration rounds on the
    64×64 matrix driver-side — the exact division of labor of Spark
    MLlib's RowMatrix.computePrincipalComponents (the O(n·d²) pass is
    distributed; the O(d³) eigen step is metadata-sized driver math,
    a BOUNDED collect of 2,080 cells). Start vector 1/√d, no
    randomness; the gram is rounded before iteration so both engines
    iterate the same matrix, and loadings round to 5 decimals (the
    16-digit float64 headroom swallows the ~1e-12 cross-engine
    matvec-order drift)."""
    import numpy as np

    cells = _gram(spark, sf_dir).collect()
    G = np.zeros((N_DIM, N_DIM))
    for r in cells:
        G[r["i"], r["j"]] = r["v"]
        G[r["j"], r["i"]] = r["v"]
    v = np.full(N_DIM, 1.0 / np.sqrt(N_DIM))
    for _ in range(_N_ITER):
        w = G @ v
        v = w / np.sqrt(float((w * w).sum()))
    return spark.createDataFrame(
        [(int(d), float(round(x, 5))) for d, x in enumerate(v)],
        "dim int, loading double",
    )
