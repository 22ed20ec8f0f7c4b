"""Incremental-processing ledger (SURVEY §2.9 T2/T7, §2.4 J2, §2.2 K4).

The reference tracks per-file processing state in a DynamoDB table
(``aws/mens_t20i_dataset_stack.py:53-62``): a full scan builds the
processed set (``download_from_cricsheet_lambda_function.py:80-82``),
new files are detected by membership anti-filter (``:84-94``), and
per-file boolean flags are upserted after each extraction branch
(``utils.py:74-89``). Exactly-once-per-file is a *ledger* property, not
a streaming-watermark property.

Spark realization: a ``VersionedTable`` (operators/txnlog.py) for the
state, a driver-side set difference for detection, and one append
commit per cycle for the upsert. Commits publish atomically, so a crash
at any point leaves either the whole cycle's ledger rows or none of
them.

Scale: the ledger has one row per *file* — millions of rows at 100 TB.
Detection is a driver-side set difference: the ledger's ``file_name``
column, collected in one job, is subtracted from the landing listing
the driver already holds. A broadcast anti-join would collect the same
column to the driver. The upsert's rows are a one-partition literal
frame built in the JVM, so each cycle adds one small ledger file and
starts no Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FILE_STATUS_SCHEMA
from .txnlog import VersionedTable, empty_frame

MATCHWISE_FLAG = "matchwise_data_extraction_status"
DELIVERYWISE_FLAG = "deliverywise_data_extraction_status"


def _ledger_table(spark: SparkSession, state_dir: str):
    return VersionedTable(spark, os.path.join(state_dir, "file_status"))


def read_ledger(spark: SparkSession, state_dir: str) -> DataFrame:
    """S5: ledger scan. Returns an empty typed frame when no state
    exists; it is planned in the JVM, so a first cycle starts no Python
    worker either."""
    table = _ledger_table(spark, state_dir)
    if table.current_version() == -1:
        return empty_frame(spark, FILE_STATUS_SCHEMA)
    return table.snapshot()


def detect_new_files(
    candidates: list[str], ledger: DataFrame, limit: int | None = None
) -> list[str]:
    """P5/J2/P9: candidate file names not yet in the ledger,
    oldest-name-first, capped at ``limit`` per cycle (reference
    THRESHOLD=10, ``download...py:115``) — the reference's
    set-membership check, with the ledger's names collected in one
    job."""
    seen = {r[0] for r in ledger.select("file_name").collect()}
    return sorted(set(candidates) - seen)[:limit]


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    when_matched: dict[str, Column] | None = None,
    insert_values: dict[str, Column] | None = None,
    delete_condition: Column | None = None,
) -> DataFrame:
    """The Delta-style ``MERGE`` face for K4/T7 (reference semantics at
    ``utils.py:74-89``): one relational expression with all three
    clauses. ``VersionedTable.commit_merge`` commits its result, which
    is how ``sources.sinks.upsert_keyed`` writes.

    - WHEN MATCHED [AND ``delete_condition``] THEN DELETE
    - WHEN MATCHED THEN UPDATE SET ``when_matched`` (exprs may
      reference both sides via the ``t.``/``s.`` aliases; unnamed
      columns keep the target value)
    - WHEN NOT MATCHED THEN INSERT (``insert_values`` overrides,
      else the source's same-named column, else typed NULL)
    - WHEN NOT MATCHED BY SOURCE: target row carried unchanged

    Output schema = target schema. Scale shape: ONE full-outer
    equi-join on the key — shuffles both sides once on the merge key
    (co-located and shuffle-free when target and source are bucketed
    on it); every clause is a projection over that join, so MERGE
    costs exactly one shuffle regardless of clause count."""
    when_matched = when_matched or {}
    insert_values = insert_values or {}
    t = target.withColumn("__t", F.lit(True)).alias("t")
    s = source.withColumn("__s", F.lit(True)).alias("s")
    joined = t.join(s, keys, "full_outer")
    matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
    if delete_condition is not None:
        joined = joined.filter(~(matched & F.coalesce(delete_condition, F.lit(False))))
    out_cols: list[Column] = []
    for c in target.columns:
        if c in keys:
            out_cols.append(F.col(c))  # coalesced by the USING join
            continue
        upd = when_matched.get(c, F.col(f"t.{c}"))
        if c in insert_values:
            ins = insert_values[c]
        elif c in source.columns:
            ins = F.col(f"s.{c}")
        else:
            ins = F.lit(None).cast(target.schema[c].dataType)
        out_cols.append(
            F.when(matched, upd)
            .when(F.col("s.__s").isNotNull(), ins)
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )
    return joined.select(*out_cols)


def upsert_status(
    spark: SparkSession, state_dir: str, file_names: list[str]
) -> None:
    """K4/T7: mark ``file_names`` as extracted by both branches, in one
    append commit of one file. The caller passes only names the ledger
    lacks (``detect_new_files``) and commits after both silver tables,
    so a file is ledgered once, and only when its rows are in silver."""
    rows = spark.range(1, numPartitions=1).select(
        F.explode(F.array(*[F.lit(n) for n in file_names])).alias("file_name")
    )
    _ledger_table(spark, state_dir).commit(
        rows.select(
            "file_name",
            F.lit(True).alias(MATCHWISE_FLAG),
            F.lit(True).alias(DELIVERYWISE_FLAG),
        )
    )
