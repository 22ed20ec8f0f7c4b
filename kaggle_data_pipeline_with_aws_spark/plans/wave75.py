"""Round-11 wave 75 — row-level deletes without rewrites, and a
downstream view maintained from CDC deltas:

- q127 — DELETION VECTORS (``VersionedTable.commit_delete_where``):
  the per-customer spend table lands as 4 files (custkey % 4), then
  two DELETE WHERE commits mark rows dead in per-file position
  sidecars — no data file is added, removed, or rewritten (the
  Delta/Iceberg deletion-vector discipline; ``n_files`` stays 4
  across all three states, oracle-pinned). Reads AS OF each state
  anti-join the scan against the broadcast DV set; the second delete
  proves position-set MERGE on already-vectored files. The oracle
  derives every column — surviving rows' aggregates, which of the 4
  files carry vectors (distinct custkey%4 among deleted rows), and
  cumulative deleted-row counts — from the same predicates.
- q128 — INCREMENTAL VIEW MAINTENANCE: a monthly revenue rollup
  maintained from the source table's CDC deltas instead of
  recomputation — for each committed version, ``read_incremental``
  reads ONLY the delta's files, the delta aggregates, and
  ``commit_merge`` folds it into the view (matched rows ADD counts
  and exact-decimal revenue; new months insert). After three source
  versions the maintained view is proven value-identical to the
  direct aggregate over the full source — the lakehouse
  materialized-view loop (Delta CDF → MERGE) end to end. Revenue
  accumulates as DECIMAL(18,2) so incremental addition is exact and
  associative (the q38/q80 money rule), cast to double only at the
  output edge.

Scale shape: q127's delete costs one predicate scan plus
deleted-positions metadata (never an n-row rewrite; the read-side
anti-join is against a broadcast, deleted-rows-sized set); q128's
per-version maintenance cost is the DELTA's bytes + one merge shuffle
of view-sized rows — at 100 TB the view updates in delta time while
recompute would re-scan the table, which is the entire point of IVM.

Reference scope: lakehouse upgrade path of the reference's ledger
(K4/T7 upsert semantics) — beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..sources.readers import load_table
from .registry import spark_query
from .wave60 import _CUT1, _CUT2, _fresh_root, _spend

# one constant per predicate, shared verbatim by the Spark delete and
# the oracle's derivation (the twin-constant discipline: editing one
# side cannot desynchronize the other)
_DEL1 = "spend < 800000.0"
_DEL2 = "spend > 3000000.0"
_RESUM = "CAST(round(sum(CAST(spend AS DECIMAL(18,2))), 2) AS DOUBLE)"


def _q127_oracle() -> str:
    state = """
      SELECT '{label}' AS state, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT custkey) AS BIGINT) AS n_keys,
             {resum} AS total_spend,
             CAST(4 AS BIGINT) AS n_files,
             CAST({ndv} AS BIGINT) AS n_dv_files,
             CAST({ndel} AS BIGINT) AS n_deleted_rows
      FROM {src}"""
    return f"""WITH sall AS MATERIALIZED (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS spend
      FROM orders GROUP BY 1
    ),
    d1 AS MATERIALIZED (SELECT * FROM sall WHERE {_DEL1}),
    d2 AS MATERIALIZED (SELECT * FROM sall WHERE {_DEL2}),
    s1 AS (SELECT * FROM sall WHERE NOT ({_DEL1})),
    s2 AS (SELECT * FROM s1 WHERE NOT ({_DEL2})),
    nd1 AS (SELECT count(DISTINCT custkey % 4) AS f, count(*) AS n
            FROM d1),
    nd2 AS (SELECT count(DISTINCT custkey % 4) AS f, count(*) AS n
            FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2))
    SELECT * FROM (
      {state.format(label="v_full", resum=_RESUM, src="sall",
                    ndv=0, ndel=0)}
      UNION ALL
      {state.format(label="v_del1", resum=_RESUM, src="s1",
                    ndv="(SELECT f FROM nd1)",
                    ndel="(SELECT n FROM nd1)")}
      UNION ALL
      {state.format(label="v_del2", resum=_RESUM, src="s2",
                    ndv="(SELECT f FROM nd2)",
                    ndel="(SELECT n FROM nd2)")}
    ) ORDER BY state
    """


@spark_query("q127_deletion_vector_delete", _q127_oracle())
def q127_deletion_vector_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-level DELETE WHERE through deletion vectors: two delete
    commits against the 4-file spend table mark positions dead in
    sidecars — the live file set never changes (``n_files`` = 4 in
    every state, oracle-pinned), time travel across the deletes is
    free, and the second delete merges into the first's vectors.
    Surviving aggregates, vectored-file counts, and cumulative
    deleted-row counts are all derived by the oracle from the same
    predicates."""
    orders = load_table(spark, sf_dir, "orders")
    spend = _spend(orders).localCheckpoint()
    vt = VersionedTable(spark, _fresh_root("vtab-dv-"))
    for g in range(4):
        vt.commit(
            spend.filter(F.col("custkey") % 4 == g).repartition(1),
            mode="append",
            op=f"shard-{g}",
        )
    v_full = vt.current_version()
    v_del1 = vt.commit_delete_where(_DEL1)
    v_del2 = vt.commit_delete_where(_DEL2)
    out: DataFrame | None = None
    for label, v in (
        ("v_full", v_full),
        ("v_del1", v_del1),
        ("v_del2", v_del2),
    ):
        dvs = vt.file_dvs(v)
        row = (
            vt.snapshot(v)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.countDistinct("custkey").alias("n_keys"),
                F.expr(_RESUM).alias("total_spend"),
            )
            .select(
                F.lit(label).alias("state"),
                "*",
                F.lit(len(vt.live_files(v))).cast("long").alias(
                    "n_files"
                ),
                F.lit(len(dvs)).cast("long").alias("n_dv_files"),
                F.lit(sum(m["n"] for m in dvs.values()))
                .cast("long")
                .alias("n_deleted_rows"),
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("state")


# ---------------------------------------------------------------------------
# q128 — incremental view maintenance from CDC deltas.
# ---------------------------------------------------------------------------
def _q128_oracle() -> str:
    return """SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY month
    """


def _month_agg(df: DataFrame) -> DataFrame:
    return df.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
            "revenue"
        ),
    )


@spark_query("q128_incremental_view_maintenance", _q128_oracle())
def q128_incremental_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A monthly revenue rollup maintained INCREMENTALLY: the source
    table commits three order slices; after each commit the view
    folds in ONLY the delta (``read_incremental`` reads the new
    files, ``commit_merge`` adds matched months' counts and
    exact-decimal revenue, inserts new months). The maintained view
    is proven identical to the direct full aggregate — delta-time
    updates with recompute-grade answers. Decimal accumulation makes
    the incremental sum exact (order-independent), so the proof is a
    hash match, not a tolerance."""
    orders = load_table(spark, sf_dir, "orders")
    c1 = F.lit(_CUT1).cast("timestamp")
    c2 = F.lit(_CUT2).cast("timestamp")
    src = VersionedTable(spark, _fresh_root("vtab-ivm-src-"))
    slices = [
        orders.filter(F.col("o_orderdate") < c1),
        orders.filter(
            (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)
        ),
        orders.filter(F.col("o_orderdate") >= c2),
    ]
    view = VersionedTable(spark, _fresh_root("vtab-ivm-view-"))
    for i, sl in enumerate(slices):
        v = src.commit(
            sl.select("o_orderdate", "o_totalprice"),
            mode="append",
            op=f"slice-{i}",
        )
        delta = _month_agg(src.read_incremental(v - 1, v))
        if view.current_version() < 0:
            view.commit(delta, mode="append", op="bootstrap")
        else:
            view.commit_merge(
                delta,
                keys=["month"],
                when_matched={
                    "n_orders": F.col("t.n_orders")
                    + F.col("s.n_orders"),
                    "revenue": F.col("t.revenue") + F.col("s.revenue"),
                },
            )
    return (
        view.snapshot()
        .select(
            "month",
            "n_orders",
            F.round(F.col("revenue"), 2).cast("double").alias("revenue"),
        )
        .orderBy("month")
    )
