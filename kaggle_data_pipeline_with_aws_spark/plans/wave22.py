"""Round-4 thirteenth wave:

- q108 — schema-evolution union: two schema versions of the same
  feed combined by NAME with missing columns null-filled (the
  ingestion reality of long-lived pipelines).
- d122 — k-core peeling over the mutual-kNN graph: three
  deterministic peel rounds toward the 2-core, reporting how long
  each node survives — the graph-density counterpart of the
  component/triangle family.

(The streaming-side addition of this wave, `stream_merge_sink`
[s12], lives in streaming/incremental.py with its own
exactly-once/upsert test — a sink, so it has no oracle row.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query
from .retrieval import _knn_graph_cte, _mutual_knn_edges


# ---------------------------------------------------------------------------
# q108 — schema-evolution union (unionByName + allowMissingColumns).
# ---------------------------------------------------------------------------
@spark_query(
    "q108_schema_evolution_union",
    """
    SELECT * FROM (
      SELECT event_id, event_type, 'v1' AS schema_version
      FROM events WHERE event_id % 2 = 0
      UNION ALL BY NAME
      SELECT event_id, event_type, value, 'v2' AS schema_version
      FROM events WHERE event_id % 2 = 1
    ) ORDER BY event_id
    """,
)
def q108_schema_evolution_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Long-lived feeds change schema mid-history: v1 rows (no
    `value` column — even event_ids play the old vintage) and v2 rows
    combine by COLUMN NAME with the missing column null-filled
    (`unionByName(allowMissingColumns=True)` ≡ DuckDB's UNION ALL BY
    NAME) — positional UNION would silently misalign. The union is a
    zero-shuffle concatenation of the two scans; each side's
    projection and parity filter push down independently."""
    ev = load_table(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", F.lit("v1").alias("schema_version")
    )
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value", F.lit("v2").alias("schema_version")
    )
    return v1.unionByName(v2, allowMissingColumns=True).orderBy("event_id")


# ---------------------------------------------------------------------------
# d122 — k-core peeling (3 rounds toward the 2-core).
# ---------------------------------------------------------------------------
_CORE_K = 2
_CORE_ROUNDS = 3


def _d122_oracle() -> str:
    sql = (
        _knn_graph_cte()
        + """
    , edges_m AS MATERIALIZED (SELECT node_a, node_b FROM edges),
    n0 AS (
      SELECT DISTINCT node FROM (
        SELECT node_a AS node FROM edges_m
        UNION ALL SELECT node_b FROM edges_m
      )
    )"""
    )
    prev_alive = "n0"
    prev_edges = "edges_m"
    for r in range(1, _CORE_ROUNDS + 1):
        sql += f"""
    , d{r} AS (
      SELECT node, count(*) AS deg FROM (
        SELECT node_a AS node FROM {prev_edges}
        UNION ALL SELECT node_b AS node FROM {prev_edges}
      ) GROUP BY node
    ),
    a{r} AS (SELECT node FROM d{r} WHERE deg >= {_CORE_K}),
    e{r} AS (
      SELECT node_a, node_b FROM {prev_edges}
      WHERE node_a IN (SELECT node FROM a{r})
        AND node_b IN (SELECT node FROM a{r})
    )"""
        prev_alive = f"a{r}"
        prev_edges = f"e{r}"
    survived = " + ".join(
        f"CASE WHEN n0.node IN (SELECT node FROM a{r}) THEN 1 ELSE 0 END"
        for r in range(1, _CORE_ROUNDS + 1)
    )
    return (
        sql
        + f"""
    SELECT n0.node, CAST({survived} AS BIGINT) AS rounds_survived,
           n0.node IN (SELECT node FROM a{_CORE_ROUNDS}) AS in_core
    FROM n0 ORDER BY n0.node
    """
    )


@spark_query("d122_kcore_peel", _d122_oracle())
def d122_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-density triage of the semantic-similarity graph: peel
    nodes of degree < 2 for three rounds (the bounded-round face of
    k-core decomposition — the same fixed-iteration discipline as
    d40's PageRank) and report how many rounds each original node
    survives. Dense semantic cores = near-dup cliques worth pruning
    aggressively; early-peeled nodes = isolated content. Each round
    is one degree aggregate + a broadcast semi-join of the (shrinking)
    alive set — edges shuffle on node id once per round, and the
    alive sets are node-sized. Note the semi-join filter ordering:
    rounds_survived is monotone by construction (a node peeled in
    round r is absent from every later alive set)."""
    # the substrate is a materialized parquet table (knn_substrate.py),
    # so lineage already starts at the edge list; checkpoint it once
    # anyway so the per-round degree jobs hit memory, not the scan
    edges = (
        _mutual_knn_edges(spark, sf_dir)
        .select("node_a", "node_b")
        .localCheckpoint(eager=True)
    )
    n0 = (
        edges.select(F.col("node_a").alias("node"))
        .unionByName(edges.select(F.col("node_b").alias("node")))
        .distinct()
    )
    alive_flags = []
    cur_edges = edges
    for _r in range(_CORE_ROUNDS):
        deg = (
            cur_edges.select(F.col("node_a").alias("node"))
            .unionByName(cur_edges.select(F.col("node_b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= _CORE_K).select("node")
        alive_flags.append(alive)
        cur_edges = (
            cur_edges.join(
                F.broadcast(alive.withColumnRenamed("node", "node_a")),
                "node_a",
                "left_semi",
            )
            .join(
                F.broadcast(alive.withColumnRenamed("node", "node_b")),
                "node_b",
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
    out = n0
    for i, alive in enumerate(alive_flags, start=1):
        out = out.join(
            F.broadcast(
                alive.withColumn(f"__a{i}", F.lit(1))
            ),
            "node",
            "left",
        )
    survived = sum(
        (F.coalesce(F.col(f"__a{i}"), F.lit(0)) for i in range(1, _CORE_ROUNDS + 1)),
        F.lit(0),
    )
    return out.select(
        "node",
        survived.cast("long").alias("rounds_survived"),
        F.col(f"__a{_CORE_ROUNDS}").isNotNull().alias("in_core"),
    ).orderBy("node")
