"""Round-9 wave 62 — lakehouse semantics over the transaction log,
tier 2 (extends wave 60's snapshot/incremental/diff face):

- q117 — compaction invariance: an ``op='compact'`` commit (OPTIMIZE)
  rewrites the live file set; the pre- and post-compaction snapshots
  aggregate identically — the invariant that makes background
  compaction safe to run against live readers.
- q118 — schema evolution: a later commit adds a column; the merged
  snapshot reads earlier files with NULLs in the new column, and the
  new column partitions history exactly at the commit boundary.
- q119 — MERGE as a committed version: the q81 MERGE face applied
  through the log (update + insert + delete clauses), audited by the
  row-level CDC diff of the pre/post snapshots joined back to the
  final state.

Staged states derive deterministically from ``orders`` (the wave-60
discipline), so every oracle states the post-commit truth directly
against the base table; money sums follow the exact-decimal-cents
rule.

Reference scope: lakehouse upgrade path of the reference's
upsert/compaction semantics — beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..sources.readers import load_table
from .registry import spark_query
from .wave60 import (
    _CUT1,
    _CUT2,
    _RESUM_SQL,
    _SPEND_SQL,
    _fresh_root,
    _spend,
    _staged_table,
)

_DEL_THRESH = 600_000.0


# ---------------------------------------------------------------------------
# q117 — compaction invariance through the log.
# ---------------------------------------------------------------------------
def _q117_oracle() -> str:
    state = f"""WITH sall AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             {_SPEND_SQL} AS spend
      FROM orders
      GROUP BY 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT custkey) AS BIGINT) AS n_keys,
             {_RESUM_SQL} AS total_spend
      FROM sall
    )"""
    return f"""{state}
    SELECT CAST(2 AS BIGINT) AS version, n_rows, n_keys, total_spend
    FROM agg
    UNION ALL
    SELECT CAST(3 AS BIGINT), n_rows, n_keys, total_spend FROM agg
    ORDER BY version
    """


@spark_query("q117_compaction_invariance", _q117_oracle())
def q117_compaction_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE through the log: commit 4 rewrites v2's live files into
    two compacted files (op='compact'); snapshots at v2 (pre) and v3
    (post) aggregate identically — row identity across compaction is
    the invariant that lets a deployment compact in the background
    while readers time-travel freely (and v2 stays readable until
    vacuum). File-count/diff-emptiness mechanics are pinned in
    tests/test_txnlog.py; this query proves value identity."""
    vt = _staged_table(spark, sf_dir)
    vt.commit_compact(target_files=2)

    def agg(v: int) -> DataFrame:
        return (
            vt.snapshot(v)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.countDistinct("custkey").alias("n_keys"),
                F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_spend"),
            )
            .select(F.lit(v).cast("long").alias("version"), "*")
        )

    return agg(2).unionByName(agg(3)).orderBy("version")


# ---------------------------------------------------------------------------
# q118 — schema evolution across commits.
# ---------------------------------------------------------------------------
def _q118_oracle() -> str:
    return f"""WITH s0 AS (
      SELECT o_custkey AS custkey, {_SPEND_SQL} AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT1}'
      GROUP BY 1
    ),
    s1 AS (
      SELECT o_custkey AS custkey, {_SPEND_SQL} AS spend
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUT1}'
                    AND o_orderdate < TIMESTAMP '{_CUT2}'
      GROUP BY 1
    )
    SELECT '(pre-schema)' AS batch_label,
           CAST(count(*) AS BIGINT) AS n_rows,
           {_RESUM_SQL} AS total_spend
    FROM s0
    UNION ALL
    SELECT 'increment', count(*), {_RESUM_SQL} FROM s1
    ORDER BY batch_label
    """


@spark_query("q118_versioned_schema_evolution", _q118_oracle())
def q118_versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the log: v0 commits (custkey, spend);
    v1 appends the same shape PLUS a new ``batch_label`` column. The
    merged snapshot (mergeSchema) reads v0's files with NULL labels —
    so the new column partitions history exactly at the commit
    boundary, the additive-evolution contract every lakehouse format
    guarantees (and the log's per-commit schema records make
    auditable)."""
    orders = load_table(spark, sf_dir, "orders")
    c1 = F.lit(_CUT1).cast("timestamp")
    c2 = F.lit(_CUT2).cast("timestamp")

    def spend_only(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("spend")
        )

    vt = VersionedTable(spark, _fresh_root("vtab-evo-"))
    vt.commit(
        spend_only(orders.filter(F.col("o_orderdate") < c1)),
        mode="overwrite",
        op="bootstrap",
    )
    vt.commit(
        spend_only(
            orders.filter(
                (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)
            )
        ).withColumn("batch_label", F.lit("increment")),
        mode="append",
        op="evolve-append",
    )
    return (
        vt.snapshot(1, merge_schema=True)
        .groupBy(
            F.coalesce(F.col("batch_label"), F.lit("(pre-schema)")).alias(
                "batch_label"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_spend"),
        )
        .orderBy("batch_label")
    )


# ---------------------------------------------------------------------------
# q119 — MERGE committed through the log, audited by the CDC diff.
# ---------------------------------------------------------------------------
def _q119_oracle() -> str:
    return f"""WITH pre AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             {_SPEND_SQL} AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT1}'
      GROUP BY 1
    ),
    w AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS wn,
             {_SPEND_SQL} AS delta
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUT1}'
                    AND o_orderdate < TIMESTAMP '{_CUT2}'
      GROUP BY 1
    ),
    m AS (
      SELECT coalesce(p.custkey, w.custkey) AS custkey,
             CASE WHEN p.custkey IS NULL THEN 'insert'
                  WHEN w.custkey IS NULL THEN 'unchanged'
                  WHEN w.delta > {_DEL_THRESH} THEN 'delete'
                  ELSE 'update' END AS change_type,
             CASE WHEN p.custkey IS NULL THEN w.delta
                  WHEN w.custkey IS NULL THEN p.spend
                  WHEN w.delta > {_DEL_THRESH} THEN NULL
                  ELSE round(p.spend + w.delta, 2) END AS fspend
      FROM pre p FULL OUTER JOIN w ON p.custkey = w.custkey
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(round(sum(CAST(fspend AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS final_spend
    FROM m
    GROUP BY 1
    ORDER BY 1
    """


@spark_query("q119_versioned_merge", _q119_oracle())
def q119_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE as version 1 of the logged table: the pre-cutoff spend
    snapshot merged with one year of order deltas — matched accounts
    accumulate (update), new accounts insert, heavy movers
    (delta > 600k) delete — then the v0→v1 row diff classifies every
    key and joins back to the final state for per-class spend. One
    full-outer shuffle for the MERGE, one for the diff; the log
    supplies isolation (v0 stays readable) around q81's exact plan."""
    orders = load_table(spark, sf_dir, "orders")
    c1 = F.lit(_CUT1).cast("timestamp")
    c2 = F.lit(_CUT2).cast("timestamp")
    vt = VersionedTable(spark, _fresh_root("vtab-merge-"))
    vt.commit(
        _spend(orders.filter(F.col("o_orderdate") < c1)),
        mode="overwrite",
        op="bootstrap",
    )
    source = (
        orders.filter(
            (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").cast("long").alias("wn"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("delta"),
        )
    )
    vt.commit_merge(
        source,
        keys=["custkey"],
        when_matched={
            "n_orders": F.col("t.n_orders") + F.col("s.wn"),
            "spend": F.round(F.col("t.spend") + F.col("s.delta"), 2),
        },
        insert_values={
            "n_orders": F.col("s.wn"),
            "spend": F.col("s.delta"),
        },
        delete_condition=F.col("s.delta") > _DEL_THRESH,
    )
    final = vt.snapshot(1).select("custkey", "spend")
    return (
        vt.row_diff(0, 1, ["custkey"])
        .join(final, "custkey", "left")
        .groupBy("change_type")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("final_spend"),
        )
        .orderBy("change_type")
    )
