"""Structured Streaming form of the incremental pipeline (SURVEY §2.9).

The reference is an event-driven micro-batch dataflow: a weekly cron
lands new match files (T1), a DynamoDB ledger guarantees each file is
processed exactly once (T2/T7), every landed file fans out to two
parallel extraction consumers (T3), and ingest is rate-limited to 10
files per cycle (T6) — all glued by EventBridge/SQS/S3 notifications
(``aws/mens_t20i_dataset_stack.py:139-350``).

Spark-first restatement: the Structured Streaming *file source* IS the
ledger — its checkpoint tracks processed files, so the DynamoDB table,
the set-difference scan (``download_from_cricsheet_lambda_function.py:
80-94``), and the per-file status upserts (``_lambdas/utils.py:74-89``)
all collapse into ``readStream`` + ``checkpointLocation``:

- T1 cron            → ``Trigger.AvailableNow`` run per cycle (or a
                       processing-time trigger for a resident job)
- T2/T7 exactly-once → file-source checkpoint + transactional sink
                       commits keyed by batch id
- T3 fan-out         → ONE ``foreachBatch`` writing both tables from a
                       shared, cached micro-batch (the reference scans
                       each file twice, once per Lambda; we scan once)
- T6 rate limit      → ``maxFilesPerTrigger``

At 100 TB scale this is the architecture you'd actually run: the file
listing is incremental, each micro-batch is a distributed job, and the
two extractions share one scan and one shuffle-free explode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.scalars import epoch_micros, file_id_from_name
from ..operators import flatten
from ..operators.txnlog import VersionedTable
from ..schemas import CRICSHEET_MATCH_SCHEMA
from ..session import concurrently
from ..sources.sinks import upsert_keyed


def read_match_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """Streaming scan of the landing zone (one multiline JSON per match).

    The streaming twin of ``sources.readers.read_json_documents``:
    same explicit schema, same filename→match_id derivation
    (``utils.py:92-106``), but with per-trigger backpressure standing in
    for the reference's THRESHOLD=10 ingest cap (``download...py:115``).
    """
    return (
        spark.readStream.schema(CRICSHEET_MATCH_SCHEMA)
        .option("multiLine", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
        .withColumn("match_id", file_id_from_name())
    )


def stream_extract(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EP2 as one incremental streaming job: landing zone → both tables.

    The reference triggers two Lambdas per file (matchwise ∥
    deliverywise, ``aws/mens_t20i_dataset_stack.py:190-277``), each
    re-reading the JSON from S3. Here one ``foreachBatch`` caches the
    micro-batch, derives both tables from the single scan and commits
    them side by side, unpersisting the batch once both have ended; the
    checkpoint gives exactly-once per file across restarts (T2/T7)
    without any ledger bookkeeping code. Both tables are
    ``VersionedTable``s, and each batch commits under
    ``txn_app=checkpoint_dir, txn_version=batch_id``: a batch replayed
    after a crash between its commits and the checkpoint's own commit is
    skipped, not appended twice. Read the output with
    ``VersionedTable(spark, f"{out_dir}/matchwise").snapshot()``.

    Returns the started query; callers run
    ``query.awaitTermination()`` (AvailableNow terminates after
    draining the backlog).
    """
    raw = read_match_stream(spark, landing_dir, max_files_per_trigger)

    matchwise_out = VersionedTable(spark, os.path.join(out_dir, "matchwise"))
    deliverywise_out = VersionedTable(
        spark, os.path.join(out_dir, "deliverywise")
    )

    def _fan_out(batch: DataFrame, batch_id: int) -> None:
        batch = batch.cache()
        try:
            concurrently(
                batch.sparkSession,
                lambda: matchwise_out.commit(
                    flatten.matchwise(batch),
                    txn_app=checkpoint_dir,
                    txn_version=batch_id,
                ),
                lambda: deliverywise_out.commit(
                    flatten.deliverywise(batch),
                    txn_app=checkpoint_dir,
                    txn_version=batch_id,
                ),
            )
        finally:
            batch.unpersist()

    return (
        raw.writeStream.foreachBatch(_fan_out)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    timestamp_col: str = "event_time",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window count — the streaming form of q23.

    The reference has no event-time windows (late files are simply
    re-detected by the ledger next cycle, SURVEY §2.9); at 100 TB of
    continuously-arriving events this is the operator that replaces the
    weekly full rebuild: state is bounded by the watermark, partial
    aggregation happens map-side, and the shuffle is keyed on
    (window, key) so it scales with the number of groups, not rows.

    Works on both batch and streaming DataFrames (watermark is a no-op
    in batch mode, so the same plan is oracle-checkable).
    """
    return (
        events.withWatermark(timestamp_col, watermark_delay)
        .groupBy(
            F.window(timestamp_col, window_duration).alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    timestamp_col: str = "event_time",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming idempotency (T7) for record streams.

    The reference dedups via natural primary keys at the Mongo sink
    (``extract_deliverywise...py:88``: replays conflict on ``_id``
    instead of duplicating). In a record stream the equivalent is
    watermark-bounded dedup state: exactly-once per key within the
    lateness horizon, with state that Spark can expire (unbounded
    ``dropDuplicates`` state would OOM a 100 TB stream).
    """
    return events.withWatermark(
        timestamp_col, watermark_delay
    ).dropDuplicatesWithinWatermark(key_cols)


def run_stream_to_memory(
    df: DataFrame, table_name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Drain a streaming DataFrame into an in-memory table (test/debug
    sink), AvailableNow so the call is bounded."""
    return (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def session_event_counts(
    events: DataFrame,
    timestamp_col: str = "event_time",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation: events for a key closer than ``gap``
    apart merge into one session (dynamic-width windows — the classic
    clickstream sessionization).

    Streaming form: ``F.session_window`` keeps per-key open-session
    state, closed by the watermark. Batch form: identical plan, and the
    semantics are exactly the gaps-and-islands SQL (lag + running flag
    sum) the oracle uses — so a stateful streaming operator still gets
    an exact DuckDB check.
    """
    return (
        events.withWatermark(timestamp_col, watermark_delay)
        .groupBy(
            F.session_window(timestamp_col, gap).alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def correlate_event_pairs(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    key_col: str = "user_id",
    timestamp_col: str = "ts",
    id_col: str = "event_id",
    lookback: str = "2 hours",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each ``left_type`` event with
    the same key's ``right_type`` events from the preceding ``lookback``
    window (the attribution/funnel primitive — "which views preceded
    this click?").

    Streaming form: both sides carry watermarks and the join condition
    bounds event time on both ends, which is exactly what lets Spark
    expire join state (an unconstrained stream-stream join would buffer
    both streams forever). Batch form: ``withWatermark`` is a no-op and
    the same plan is a plain range join — so the stateful operator
    still gets an exact DuckDB oracle on the events table.

    At scale the join shuffles both sides on ``key_col`` only; the time
    predicate is a post-shuffle residual, and state size is bounded by
    rate × lookback per key, independent of stream history length.

    Reference analog: the SQS-triggered cascade (SURVEY §2.9 T3-T5)
    correlates "file landed" to "extract done" events by file id;
    this generalizes that to event-time correlation.

    ``how="left_outer"`` keeps unmatched left events with null
    right_id/gap_us — also streamable (Spark emits the null row once
    the watermark passes the join window), which is how the
    "unattributed clicks" face (s05) runs incrementally.
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col(id_col).alias("left_id"),
            F.col(key_col).alias("key"),
            F.col(timestamp_col).alias("left_ts"),
        )
        .withWatermark("left_ts", watermark_delay)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col(id_col).alias("right_id"),
            F.col(key_col).alias("key"),
            F.col(timestamp_col).alias("right_ts"),
        )
        .withWatermark("right_ts", watermark_delay)
    )
    cond = (
        (left["key"] == right["key"])
        & (right["right_ts"] >= left["left_ts"] - F.expr(f"INTERVAL {lookback}"))
        & (right["right_ts"] <= left["left_ts"])
    )
    return left.join(right, cond, how).select(
        "left_id",
        "right_id",
        left["key"].alias(key_col),
        (epoch_micros("left_ts") - epoch_micros("right_ts")).alias("gap_us"),
    )


def windowed_kmv_distinct(
    events: DataFrame,
    timestamp_col: str = "event_time",
    id_col: str = "user_id",
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    k: int = 64,
) -> DataFrame:
    """Approximate distinct-count per tumbling window via a KMV
    sketch — the streaming form of d48's daily rollup.

    ``approx_count_distinct`` (HLL) would also stream, but its
    estimate is engine-specific; the k-minimum-values sketch over the
    portable hash is deterministic, hence oracle-checkable AND
    mergeable (union of sketches = k smallest of the union), which is
    what late-arriving data needs. The aggregate is a single
    streamable groupBy (collect_set, array_sort, slice — no window
    function, which streams forbid). State per window is the distinct
    hash set; a transformWithState accumulator could cap it at k
    exactly, but the set is already bounded by distinct ids per
    window, the quantity being estimated.

    Works on batch and streaming frames identically (watermark is a
    batch no-op).
    """
    from ..operators.text import HASH_MOD, portable_hash

    h = portable_hash(
        F.concat(F.lit("kmv|"), F.col(id_col).cast("string"))
    )
    mins = F.slice(F.array_sort(F.collect_set(h)), 1, k)
    return (
        events.withWatermark(timestamp_col, watermark_delay)
        .groupBy(F.window(timestamp_col, window_duration).alias("win"))
        .agg(mins.alias("mins"))
        .select(
            F.col("win.start").alias("window_start"),
            F.size("mins").cast("long").alias("k_used"),
            F.element_at("mins", -1).alias("kth"),
            F.round(
                (F.size("mins").cast("double") - 1.0)
                * F.lit(float(HASH_MOD))
                / F.element_at("mins", -1),
                6,
            ).alias("est_distinct"),
        )
    )


def segment_windowed_counts(
    events: DataFrame,
    dim: DataFrame,
    timestamp_col: str = "event_time",
    join_key: str = "user_id",
    dim_key: str = "c_custkey",
    segment_col: str = "c_mktsegment",
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-static dimension enrich + windowed rollup: each event
    joins a SLOW-changing dimension (broadcast — re-read per
    micro-batch, never shuffled against the stream) and aggregates
    per (window, segment). This is the deployment shape of J1's
    broadcast enrich under continuous arrival: the stream side never
    repartitions for the join, and the aggregate's state is
    (windows × segments)-sized.

    Works on batch and streaming frames identically.
    """
    enriched = events.join(
        F.broadcast(dim.select(dim_key, segment_col)),
        F.col(join_key) == F.col(dim_key),
    )
    return (
        enriched.withWatermark(timestamp_col, watermark_delay)
        .groupBy(
            F.window(timestamp_col, window_duration).alias("win"),
            F.col(segment_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            segment_col,
            "n_events",
        )
    )


def stream_merge_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str],
) -> StreamingQuery:
    """Streaming CDC upsert into a keyed transaction-logged table: every
    micro-batch commits through ``sources.sinks.upsert_keyed`` — one
    atomic MERGE (matched → update to the batch's values, not-matched
    → insert, everything else carried); the first batch creates the
    table. Read it with ``VersionedTable(spark, target_path).snapshot()``.

    This is the foreachBatch deployment of q81's MERGE face (T7's
    exactly-once composes with it: the checkpoint guarantees each
    input file feeds exactly one batch, and the MERGE is idempotent
    per key for replayed batches carrying identical values). Within a
    batch, duplicate keys collapse to one row by a deterministic
    tiebreak (``upsert_keyed``'s max per key), standing in for the
    reference's last-write-wins Mongo upsert (utils.py:74-89).
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        upsert_keyed(batch.sparkSession, target_path, batch, keys)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_hll_registers(
    events: DataFrame,
    timestamp_col: str = "event_time",
    id_col: str = "user_id",
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    m: int = 64,
) -> DataFrame:
    """Explicit HLL register table per tumbling window — the
    bounded-state alternative to ``windowed_kmv_distinct``: state is
    AT MOST m counters per window no matter the stream rate or the
    distinct count (the KMV form's collect_set grows with distinct
    ids). ONE streamable aggregate (groupBy(window, register).max(rho)
    — MAX is order-insensitive, so late/replayed data merges by
    construction), emitting (window_start, idx, mrho) rows; absent
    registers mean rho 0. Estimation (dense grid fill + harmonic
    mean) is per-window batch post-processing — plans/wave51.py::s14
    — the same sketch-vs-serving split as s13's count-min.

    Works on batch and streaming frames identically (watermark is a
    batch no-op).
    """
    from ..operators.sketch import hll_rho_sql
    from ..operators.text import portable_hash60

    h = portable_hash60(
        F.concat(F.lit("hll|"), F.col(id_col).cast("string"))
    )
    return (
        events.withWatermark(timestamp_col, watermark_delay)
        .withColumn("__h", h)
        .withColumn("__idx", F.col("__h") % m)
        .withColumn("__w", F.expr(f"__h DIV {m}"))
        .withColumn("__rho", F.expr(hll_rho_sql("__w")))
        .groupBy(
            F.window(timestamp_col, window_duration).alias("win"),
            F.col("__idx").alias("idx"),
        )
        .agg(F.max("__rho").alias("mrho"))
        .select(
            F.col("win.start").alias("window_start"), "idx", "mrho"
        )
    )
