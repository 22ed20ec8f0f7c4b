"""Round-11 wave 76 — the versioned table as an EXACTLY-ONCE streaming
SINK:

- s17 — the CDC stream lands in a second transaction-logged table via
  ``foreachBatch`` + transactional commits
  (``commit(txn_app=..., txn_version=batch_id)`` — Delta's
  ``txnAppId``/``txnVersion`` contract): every micro-batch of the
  wave-68 staged source (drained through the DSv2 ``readStream``
  source) appends into the sink with its batch id as the transaction version.
  After the stream drains, the face REPLAYS a committed batch — the
  foreachBatch retry that Structured Streaming's at-least-once sink
  contract makes every production pipeline face — with deliberately
  WRONG replacement data: idempotence must skip it on the recorded
  high-water mark alone. The sink's final state (bucketed aggregates
  + its commit count, which a wrongly-applied replay would bump to 4)
  is proven against the direct statement of the three batches'
  union — closing the loop: the table format is now BOTH the
  exactly-once source (s15/s16) and the exactly-once sink of the same
  stream.

Scale shape: the idempotence check is one metadata read (the app's
high-water mark, checkpoint-carried) before any bytes are written;
the check is re-run under the commit slot-claim race, so concurrent
replays of the same (app, version) can never both land. Per batch the
sink writes only the delta's rows — the T7 idempotent-write semantics
at the table-format level instead of the pipeline level.

Reference scope: the reference's T7 idempotent-write discipline
upgraded to a lakehouse sink — beyond-reference surface.
"""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..streaming import dsv2_source
from .registry import spark_query
from .wave60 import _RESUM_SQL, _fresh_root
from .wave68 import _commit_stages

_APP = "s17-sink"
_N_BUCKETS = 10


def _s17_oracle() -> str:
    from .wave60 import _spend_ctes

    return f"""{_spend_ctes()},
    allrows AS (
      SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM sall
    )
    SELECT custkey % {_N_BUCKETS} AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           {_RESUM_SQL} AS total_spend,
           CAST(3 AS BIGINT) AS n_sink_commits
    FROM allrows GROUP BY 1 ORDER BY bucket
    """


def _sink_batch(sink: VersionedTable, df: DataFrame, bid: int) -> None:
    sink.commit(df, mode="append", op=f"batch-{bid}",
                txn_app=_APP, txn_version=bid)


def _drain_into_sink_readstream(
    spark: SparkSession, src: VersionedTable, sink: VersionedTable, stages
) -> None:
    stages[0](src)
    seen: list[int] = []

    def sink_fn(df: DataFrame, bid: int) -> None:
        _sink_batch(sink, df, bid)
        seen.append(bid)

    q = (
        spark.readStream.format("txnlog")
        .option("path", src.root)
        .option("onRewrite", "adds")
        .load()
        .writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="s17-ck-"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        for want, stage in [(1, stages[1]), (2, stages[2]), (3, None)]:
            deadline = time.time() + 600
            while time.time() < deadline and len(seen) < want:
                time.sleep(0.2)
            assert len(seen) >= want, (
                f"s17 stream landed {len(seen)}/{want} batches"
            )
            if stage is not None:
                stage(src)
    finally:
        q.stop()


@spark_query("s17_exactly_once_txn_sink", _s17_oracle())
def s17_exactly_once_txn_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming INTO the versioned table: every
    micro-batch commits with its batch id as the transaction version;
    a deliberate post-drain REPLAY of the final batch — carrying
    deliberately wrong data — must be skipped on the recorded
    high-water mark alone. The sink's bucketed aggregates AND its
    commit count (a wrongly-applied replay would read 4, the oracle
    pins 3) prove each batch landed exactly once."""
    src = VersionedTable(spark, _fresh_root("vtab-s17-src-"))
    sink = VersionedTable(spark, _fresh_root("vtab-s17-sink-"))
    stages = _commit_stages(spark, sf_dir)
    dsv2_source.register(spark)
    _drain_into_sink_readstream(spark, src, sink, stages)
    last_bid = sink.last_txn_version(_APP)
    # the foreachBatch retry: same (app, version), WRONG data — the
    # high-water mark alone must reject it
    _sink_batch(sink, src.snapshot(), last_bid)
    assert sink.last_txn_version(_APP) == last_bid
    return (
        sink.snapshot()
        .groupBy((F.col("custkey") % _N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr(_RESUM_SQL).alias("total_spend"),
        )
        .withColumn(
            "n_sink_commits",
            F.lit(sink.current_version() + 1).cast("long"),
        )
        .orderBy("bucket")
    )
