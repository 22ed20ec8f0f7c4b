"""Round-11 wave 74 — the transaction-logged table's BATCH face
through the standard reader API:

- q126 — ``spark.read.format("txnlog").option("version", N)`` time
  travel: the wave-60 three-commit table (bootstrap overwrite → append
  increment → full rewrite) read AS OF each version through the Python
  DataSource V2 batch reader (streaming/dsv2_source.py::
  TxnLogBatchReader) instead of ``VersionedTable.snapshot``. A log
  checkpoint is published after the final commit, so the v2 read
  resolves through the checkpoint while v0/v1 replay entries — both
  replay paths of the pure-python reader exercised in one face. The
  ORACLE IS q114's, verbatim: the DataSource path and the JVM snapshot
  path are proven value-equal against DuckDB.

Scale shape: planning is log metadata only (checkpoint + tail
entries); one InputPartition per live file keeps the scan
embarrassingly parallel; rows travel as Arrow RecordBatches (no
per-row python). The JVM parquet scan (``snapshot``) stays the
default batch path — this face is the PLUG-IN surface consumers of
``spark.read.format`` expect, proven equal to it.

Reference scope: lakehouse upgrade path of the reference's ledger —
beyond-reference surface, same family as q114 and s16.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.txnlog import VersionedTable
from ..streaming import dsv2_source
from .registry import spark_query
from .wave60 import _q114_oracle, _snap_agg, _staged_table


def _as_of(spark: SparkSession, vt: VersionedTable, v: int) -> DataFrame:
    return (
        spark.read.format("txnlog")
        .option("path", vt.root)
        .option("version", v)
        .load()
    )


@spark_query("q126_dsv2_batch_time_travel", _q114_oracle())
def q126_dsv2_batch_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time travel through ``spark.read.format("txnlog")``: the staged
    three-version table read AS OF v0/v1/v2 by the DataSource V2
    batch reader — v0/v1 replay log entries, v2 resolves through the
    published checkpoint — aggregated exactly as q114, against q114's
    oracle verbatim. Proves the plug-in reader and the JVM snapshot
    path value-equal."""
    vt = _staged_table(spark, sf_dir)
    vt.checkpoint()  # v2 resolves via the checkpoint, v0/v1 replay
    dsv2_source.register(spark)
    out: DataFrame | None = None
    for v in (0, 1, 2):
        agg = _snap_agg(_as_of(spark, vt, v), v)
        out = agg if out is None else out.unionByName(agg)
    assert out is not None
    return out.orderBy("version")
