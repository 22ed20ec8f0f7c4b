"""Round-9 wave 60 — snapshot/time-travel table face (round-8 verdict
#4: the versioned-table semantic tying MERGE (q81), compaction
(``VersionedTable.commit_compact``) and the CDC diff (q60) together):

- q114 — time-travel reads: three committed versions of a per-customer
  spend table (bootstrap overwrite → append increment → full rewrite),
  each snapshot read AS OF its version through the transaction log.
- q115 — incremental reads: rows in the files ADDED between version
  pairs — the append-only CDC fast path that reads only delta bytes.
- q116 — row-level CDC: the v0→v2 full-outer key diff classifying
  every customer as insert / update / unchanged.

Each run stages a REAL transaction-logged parquet table (fresh temp
root, three commits derived deterministically from ``orders``), then
answers every query through ``operators/txnlog.py``'s log replay —
the oracle states the same three states directly against ``orders``,
so a hash match proves the log's add/remove replay, snapshot
isolation, and incremental file selection all reconstruct the right
rows. Money sums follow the exact-decimal-cents rule (q38/q80/q88).

Reference scope: upgrade path of the reference's ledger/upsert
semantics (utils.py:74-89, dynamodb_utils) to a lakehouse table
format — beyond-reference surface.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..sources.readers import load_table
from .registry import spark_query


def _fresh_root(prefix: str) -> str:
    """Temp root for a staged transaction-logged table, removed at
    process exit (round-9 ADVICE: repeated driver/bench runs must not
    leak staged parquet tables into the system tmp dir)."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root

# the synthetic orders span 1995-01-01 .. 2001-08-01; these cutoffs
# populate all three CDC classes (insert / update / unchanged) at
# every test scale
_CUT1 = "1997-06-01"
_CUT2 = "1998-06-01"

_SPEND_SQL = "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)"
_RESUM_SQL = "CAST(round(sum(CAST(spend AS DECIMAL(18,2))), 2) AS DOUBLE)"


def _spend(orders: DataFrame) -> DataFrame:
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("spend"),
    )


def _staged_table(spark: SparkSession, sf_dir: str) -> VersionedTable:
    """Fresh transaction-logged table with the three deterministic
    commits every wave-60 query reads. A new temp root per run: the
    queries test the LOG protocol, not artifact reuse (the staged
    states are tiny per-customer aggregates)."""
    orders = load_table(spark, sf_dir, "orders")
    c1 = F.lit(_CUT1).cast("timestamp")
    c2 = F.lit(_CUT2).cast("timestamp")
    vt = VersionedTable(spark, _fresh_root("vtab-"))
    vt.commit(
        _spend(orders.filter(F.col("o_orderdate") < c1)),
        mode="overwrite",
        op="bootstrap",
    )
    vt.commit(
        _spend(
            orders.filter(
                (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)
            )
        ),
        mode="append",
        op="increment",
    )
    vt.commit(_spend(orders), mode="overwrite", op="rewrite")
    return vt


def _spend_ctes() -> str:
    """The oracle's statement of the three committed states."""
    return f"""WITH s0 AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             {_SPEND_SQL} AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CUT1}'
      GROUP BY 1
    ),
    s1 AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             {_SPEND_SQL} AS spend
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_CUT1}'
                    AND o_orderdate < TIMESTAMP '{_CUT2}'
      GROUP BY 1
    ),
    sall AS (
      SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
             {_SPEND_SQL} AS spend
      FROM orders
      GROUP BY 1
    )"""


def _snap_agg(df: DataFrame, version: int) -> DataFrame:
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("custkey").alias("n_keys"),
        F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_spend"),
    ).select(F.lit(version).cast("long").alias("version"), "*")


def _q114_oracle() -> str:
    return f"""{_spend_ctes()},
    v1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
    SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT custkey) AS BIGINT) AS n_keys,
           {_RESUM_SQL} AS total_spend
    FROM s0
    UNION ALL
    SELECT 1, count(*), count(DISTINCT custkey), {_RESUM_SQL} FROM v1
    UNION ALL
    SELECT 2, count(*), count(DISTINCT custkey), {_RESUM_SQL} FROM sall
    ORDER BY version
    """


@spark_query("q114_snapshot_time_travel", _q114_oracle())
def q114_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the committed table AS OF each of its three versions
    through transaction-log replay: v0 = pre-cutoff bootstrap, v1 =
    v0 + the one-year append increment (duplicate keys — append
    semantics), v2 = the full-history rewrite (old files logically
    removed but still readable at v0/v1 — time travel). Each snapshot
    is a plain parquet scan of exactly the version's live file set,
    so pushdown/pruning work unchanged."""
    vt = _staged_table(spark, sf_dir)
    out = _snap_agg(vt.snapshot(0), 0)
    for v in (1, 2):
        out = out.unionByName(_snap_agg(vt.snapshot(v), v))
    return out.orderBy("version")


def _q115_oracle() -> str:
    return f"""{_spend_ctes()},
    inc01 AS (SELECT * FROM s1),
    inc12 AS (SELECT * FROM sall),
    inc02 AS (SELECT * FROM s1 UNION ALL SELECT * FROM sall)
    SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT custkey) AS BIGINT) AS n_keys,
           {_RESUM_SQL} AS added_spend
    FROM inc01
    UNION ALL
    SELECT 1, 2, count(*), count(DISTINCT custkey), {_RESUM_SQL} FROM inc12
    UNION ALL
    SELECT 0, 2, count(*), count(DISTINCT custkey), {_RESUM_SQL} FROM inc02
    ORDER BY from_v, to_v
    """


@spark_query("q115_version_incremental_read", _q115_oracle())
def q115_version_incremental_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental reads between committed versions: only the files
    ADDED in (from_v, to_v] are scanned — the CDC fast path that turns
    an append-only versioned table into a streaming source reading
    delta bytes only. The 1→2 window shows rewrite semantics: the
    rewrite's adds are the whole new state (pair with q116's row diff
    to get row-level changes there)."""
    vt = _staged_table(spark, sf_dir)

    def agg(v0: int, v1: int) -> DataFrame:
        return (
            vt.read_incremental(v0, v1)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.countDistinct("custkey").alias("n_keys"),
                F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("added_spend"),
            )
            .select(
                F.lit(v0).cast("long").alias("from_v"),
                F.lit(v1).cast("long").alias("to_v"),
                "*",
            )
        )

    return (
        agg(0, 1)
        .unionByName(agg(1, 2))
        .unionByName(agg(0, 2))
        .orderBy("from_v", "to_v")
    )


def _q116_oracle() -> str:
    return f"""WITH per AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUT1}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_CUT1}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_post
      FROM orders
      GROUP BY 1
    )
    SELECT CASE WHEN n_pre = 0 THEN 'insert'
                WHEN n_post > 0 THEN 'update'
                ELSE 'unchanged' END AS change_type,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM per
    GROUP BY 1
    ORDER BY 1
    """


@spark_query("q116_version_row_diff", _q116_oracle())
def q116_version_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC v0→v2 through the log: one full-outer join of the
    two snapshots on the key, every customer classified insert (no
    pre-cutoff orders), update (aggregate changed — gained orders), or
    unchanged (pre-cutoff-only history). The general diff path when a
    commit rewrites rows (file-level incremental can't see inside a
    rewrite); shuffle bounded by the two snapshots' key cardinality."""
    vt = _staged_table(spark, sf_dir)
    return (
        vt.row_diff(0, 2, ["custkey"])
        .groupBy("change_type")
        .agg(F.count("*").cast("long").alias("n_keys"))
        .orderBy("change_type")
    )
