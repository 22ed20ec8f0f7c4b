"""Streaming-mode tests (SURVEY §2.9 T1-T7).

The file-source checkpoint must reproduce the ledger semantics the
reference implements with DynamoDB: each landed file processed exactly
once across restarts, new files picked up incrementally, both
extraction branches fed from one scan.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kaggle_data_pipeline_with_aws_spark.operators import flatten
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
from kaggle_data_pipeline_with_aws_spark.sources.readers import (
    read_json_documents,
)
from kaggle_data_pipeline_with_aws_spark.schemas import CRICSHEET_MATCH_SCHEMA
from kaggle_data_pipeline_with_aws_spark.streaming import (
    dedup_within_watermark,
    run_stream_to_memory,
    running_user_stats,
    stream_extract,
    windowed_event_counts,
)

from cricket_fixtures import write_fixture_dir

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_time", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_events(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _event_rows(n: int, start_hour: int = 0) -> list[dict]:
    rows = []
    for i in range(n):
        hour = start_hour + (i * 3) // 60
        minute = (i * 3) % 60
        rows.append(
            {
                "event_id": i,
                "event_time": f"2024-01-01T{hour:02d}:{minute:02d}:00.000Z",
                "user_id": i % 5,
                "event_type": ["click", "view", "purchase"][i % 3],
                "value": float(i),
            }
        )
    return rows


def test_stream_extract_exactly_once_across_cycles(spark, tmp_path):
    """T2/T7: cycle 1 processes the backlog; cycle 2 with the same
    checkpoint only processes files landed in between — no reprocessing,
    no duplicates (the reference's DynamoDB anti-join semantics)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    write_fixture_dir(landing, n_matches=8, seed=1)
    q = stream_extract(spark, landing, out, ckpt, max_files_per_trigger=3)
    q.awaitTermination()

    mw = VersionedTable(spark, os.path.join(out, "matchwise")).snapshot()
    assert mw.count() == 8
    assert mw.select("match_id").distinct().count() == 8

    # land 4 more files (ids continue), rerun with the same checkpoint
    write_fixture_dir(landing, n_matches=12, seed=1)  # rewrites 8, adds 4
    q = stream_extract(spark, landing, out, ckpt, max_files_per_trigger=3)
    q.awaitTermination()

    mw = VersionedTable(spark, os.path.join(out, "matchwise")).snapshot()
    assert mw.count() == 12  # the 8 old files were NOT reprocessed
    assert mw.select("match_id").distinct().count() == 12

    # deliverywise fan-out saw the same files, and matches batch flatten
    dw = VersionedTable(spark, os.path.join(out, "deliverywise")).snapshot()
    raw = read_json_documents(spark, landing, CRICSHEET_MATCH_SCHEMA)
    batch_dw = flatten.deliverywise(raw)
    assert dw.count() == batch_dw.count()
    assert dw.select("match_id").distinct().count() == 12


def test_stream_extract_replayed_batch_commits_once(spark, tmp_path):
    """A crash after a batch's sink commits but before the checkpoint
    records the batch makes Spark replay it on restart; the sink's
    batch-id commits must skip the replay instead of appending twice."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_fixture_dir(landing, n_matches=6, seed=3)

    def counts():
        return [
            VersionedTable(spark, os.path.join(out, t)).snapshot().count()
            for t in ("matchwise", "deliverywise")
        ]

    def run():
        stream_extract(
            spark, landing, out, ckpt, max_files_per_trigger=3
        ).awaitTermination()

    run()
    before = counts()
    assert before[0] == 6
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):  # the entry and its checksum
        os.remove(os.path.join(commits, name))

    run()
    assert os.path.exists(os.path.join(commits, str(last)))  # replayed
    assert counts() == before


def test_stream_extract_matches_batch_values(spark, tmp_path):
    landing = str(tmp_path / "landing")
    write_fixture_dir(landing, n_matches=5, seed=7)
    out = str(tmp_path / "out")
    q = stream_extract(spark, landing, out, str(tmp_path / "ckpt"))
    q.awaitTermination()

    streamed = (
        VersionedTable(spark, os.path.join(out, "matchwise")).snapshot()
        .orderBy("match_id")
        .collect()
    )
    batch = (
        flatten.matchwise(
            read_json_documents(spark, landing, CRICSHEET_MATCH_SCHEMA)
        )
        .orderBy("match_id")
        .collect()
    )
    assert [r.asDict() for r in streamed] == [r.asDict() for r in batch]


def test_windowed_event_counts_stream_vs_batch(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(src, _event_rows(120))  # 6 hours of events

    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = run_stream_to_memory(
        windowed_event_counts(stream), "win_counts", output_mode="complete"
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("win_counts").collect()
    }

    batch = windowed_event_counts(spark.read.schema(EVENT_SCHEMA).json(src))
    want = {
        (r.window_start, r.event_type): r.n_events for r in batch.collect()
    }
    assert got == want
    assert sum(got.values()) == 120


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    rows = _event_rows(30)
    _write_events(src, rows + rows[:10])  # 10 duplicated keys
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = run_stream_to_memory(
        dedup_within_watermark(stream, ["event_id"]), "deduped"
    )
    q.awaitTermination()
    got = spark.table("deduped")
    assert got.count() == 30
    assert got.select("event_id").distinct().count() == 30


def test_running_user_stats_stateful(spark, tmp_path):
    src = str(tmp_path / "events")
    rows = _event_rows(50)
    _write_events(src, rows)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(src)
        .withColumnRenamed("event_time", "ts")
    )
    q = run_stream_to_memory(
        running_user_stats(stream), "user_stats", output_mode="update"
    )
    q.awaitTermination()

    # last emitted record per user == the batch ground truth
    latest = (
        spark.table("user_stats")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_sum").alias("value_sum"),
        )
    )
    got = {r.user_id: (r.n_events, r.value_sum) for r in latest.collect()}
    want = {
        r.user_id: (r.n_events, r.value_sum)
        for r in (
            spark.read.schema(EVENT_SCHEMA)
            .json(src)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("value_sum"),
            )
        ).collect()
    }
    assert got == want


def test_streaming_and_batch_pipelines_agree(spark, tmp_path):
    """The two ledger mechanisms (batch anti-join vs file-source
    checkpoint) must produce the same matchwise silver table for the
    same landing zone — the engine's incremental semantics are one
    contract with two implementations."""
    landing = str(tmp_path / "landing")
    write_fixture_dir(landing, n_matches=10, seed=11)

    from kaggle_data_pipeline_with_aws_spark.pipeline import run_incremental

    batch = run_incremental(
        spark,
        landing,
        str(tmp_path / "state"),
        str(tmp_path / "out_batch"),
        max_files_per_cycle=10,
    )
    batch_rows = [
        r.asDict()
        for r in batch.matchwise.drop("match_number")
        .orderBy("match_id")
        .collect()
    ]

    q = stream_extract(
        spark,
        landing,
        str(tmp_path / "out_stream"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=4,
    )
    q.awaitTermination()
    stream_rows = [
        r.asDict()
        for r in VersionedTable(spark, str(tmp_path / "out_stream/matchwise"))
        .snapshot()
        .orderBy("match_id")
        .collect()
    ]
    assert batch_rows == stream_rows


def test_correlate_event_pairs_stream_vs_batch(spark, tmp_path):
    from kaggle_data_pipeline_with_aws_spark.streaming.incremental import (
        correlate_event_pairs,
    )

    src = str(tmp_path / "events")
    _write_events(src, _event_rows(120))
    kwargs = dict(
        left_type="click",
        right_type="view",
        timestamp_col="event_time",
        lookback="50 minutes",
        watermark_delay="10 minutes",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = run_stream_to_memory(
        correlate_event_pairs(stream, **kwargs), "pairs_stream"
    )
    q.awaitTermination()
    got = {
        (r.left_id, r.right_id, r.user_id, r.gap_us)
        for r in spark.sql("SELECT * FROM pairs_stream").collect()
    }
    batch = correlate_event_pairs(
        spark.read.schema(EVENT_SCHEMA).json(src), **kwargs
    )
    expected = {
        (r.left_id, r.right_id, r.user_id, r.gap_us) for r in batch.collect()
    }
    assert got, "fixture should produce click←view pairs"
    assert got == expected
    # every pair respects the interval bound: 0 ≤ gap ≤ 50 min
    assert all(0 <= g <= 50 * 60 * 1_000_000 for (_, _, _, g) in got)


def test_rocksdb_state_store_provider(spark, tmp_path):
    """streaming_scale_conf actually engages RocksDB: the stateful agg
    produces identical results and the query's state-operator metrics
    are RocksDB ones (heap provider reports loadedMapCacheHitCount
    instead)."""
    from kaggle_data_pipeline_with_aws_spark.session import streaming_scale_conf

    src = str(tmp_path / "events")
    _write_events(src, _event_rows(60))
    before = {
        k: spark.conf.get(k, None) for k in streaming_scale_conf()
    }
    for k, v in streaming_scale_conf().items():
        spark.conf.set(k, v)
    try:
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        counts = windowed_event_counts(stream)
        q = run_stream_to_memory(counts, "rocksdb_counts", output_mode="complete")
        q.awaitTermination()
        progress = q.lastProgress
        metrics = progress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics.keys()
        got = {
            (r.window_start, r.event_type): r.n_events
            for r in spark.sql("SELECT * FROM rocksdb_counts").collect()
        }
        batch = windowed_event_counts(spark.read.schema(EVENT_SCHEMA).json(src))
        expected = {
            (r.window_start, r.event_type): r.n_events for r in batch.collect()
        }
        assert got == expected
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_unattributed_clicks_stream_vs_batch(spark, tmp_path):
    """s05's machinery as a real stream: the LEFT OUTER interval join
    emits an unmatched click (null right_id) only once the watermark
    closes its join window — so the stream is driven file-by-file with
    a far-future flush file to push the watermark past every real
    event, after which streamed nulls must equal the batch anti-set."""
    from kaggle_data_pipeline_with_aws_spark.streaming.incremental import (
        correlate_event_pairs,
    )

    src = str(tmp_path / "events")
    rows = _event_rows(80)
    os.makedirs(src, exist_ok=True)
    mid = len(rows) // 2
    for fname, chunk in [("a.jsonl", rows[:mid]), ("b.jsonl", rows[mid:])]:
        with open(os.path.join(src, fname), "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
    # flush: one far-future event per side so the watermark passes
    # every real event's join window before the stream drains
    flush = [
        dict(rows[-1], event_id=990_001, event_time="2030-01-01T00:00:00Z",
             event_type="click"),
        dict(rows[-1], event_id=990_002, event_time="2030-01-01T00:00:00Z",
             event_type="view"),
    ]
    with open(os.path.join(src, "z_flush.jsonl"), "w") as f:
        for r in flush:
            f.write(json.dumps(r) + "\n")

    kwargs = dict(
        left_type="click",
        right_type="view",
        timestamp_col="event_time",
        lookback="50 minutes",
        watermark_delay="10 minutes",
        how="left_outer",
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = run_stream_to_memory(
        correlate_event_pairs(stream, **kwargs), "unattributed_stream"
    )
    q.awaitTermination()
    got = {
        r.left_id
        for r in spark.sql(
            "SELECT * FROM unattributed_stream WHERE right_id IS NULL"
        ).collect()
        if r.left_id < 990_000
    }
    batch = correlate_event_pairs(
        spark.read.schema(EVENT_SCHEMA).json(src), **kwargs
    )
    expected = {
        r.left_id
        for r in batch.filter(F.col("right_id").isNull()).collect()
        if r.left_id < 990_000
    }
    assert expected, "fixture should contain unattributed clicks"
    assert got == expected


def test_trending_topk_stream_vs_batch_rocksdb(spark, tmp_path):
    """s06 as deployed: watermarked tumbling-window counts as the
    streaming stage (RocksDB state store engaged), per-window top-k
    rank applied to the drained aggregate exactly as the foreachBatch
    post-step would — equal to the all-batch answer."""
    from pyspark.sql import Window
    from kaggle_data_pipeline_with_aws_spark.session import streaming_scale_conf

    src = str(tmp_path / "events")
    _write_events(src, _event_rows(200))
    before = {k: spark.conf.get(k, None) for k in streaming_scale_conf()}
    for k, v in streaming_scale_conf().items():
        spark.conf.set(k, v)
    try:
        stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
        counts = windowed_event_counts(stream)
        q = run_stream_to_memory(counts, "trend_counts", output_mode="complete")
        q.awaitTermination()
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics.keys()

        rank_w = Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type").asc()
        )

        def topk(df):
            return {
                (r.window_start, r.event_type, r.n_events, r.rk)
                for r in df.withColumn(
                    "rk", F.row_number().over(rank_w).cast("long")
                )
                .filter(F.col("rk") <= 3)
                .collect()
            }

        got = topk(spark.sql("SELECT * FROM trend_counts"))
        expected = topk(
            windowed_event_counts(spark.read.schema(EVENT_SCHEMA).json(src))
        )
        assert got and got == expected
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_running_user_stats_transform_with_state(spark, tmp_path):
    """The Spark-4 transformWithStateInPandas twin reaches the same
    per-user totals as the batch aggregate and the legacy
    applyInPandasWithState operator."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    # the TWS Python worker speaks protobuf to the JVM; without it the
    # worker crashes at runtime (this sandbox ships no protobuf)
    pytest.importorskip("google.protobuf.descriptor")
    from kaggle_data_pipeline_with_aws_spark.streaming.stateful import (
        running_user_stats_tws,
    )

    src = str(tmp_path / "events")
    _write_events(src, _event_rows(120))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(src)
        .selectExpr("user_id", "event_time AS ts", "value")
    )
    q = run_stream_to_memory(running_user_stats_tws(stream), "tws_stats")
    q.awaitTermination()
    rows = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n_events,"
        " max_by(value_sum, n_events) AS value_sum FROM tws_stats"
        " GROUP BY user_id"
    ).collect()
    got = {r.user_id: (r.n_events, round(r.value_sum, 6)) for r in rows}
    batch = (
        spark.read.schema(EVENT_SCHEMA)
        .json(src)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("s"),
        )
        .collect()
    )
    expected = {r.user_id: (r.n, round(r.s, 6)) for r in batch}
    assert got == expected


def test_s07_registered_face_stream_vs_batch(spark, tmp_path):
    """The REGISTERED s07 batch face (plans/wave6.py) equals the
    converged applyInPandasWithState state over the same events table —
    the equivalence is proven on the exact registry plan, not a
    hand-rolled twin aggregate. maxFilesPerTrigger=1 forces multiple
    micro-batches so per-key state genuinely accumulates across
    batches through the state store."""
    from kaggle_data_pipeline_with_aws_spark.plans.registry import (
        QUERIES,
        load_all,
    )
    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

    load_all()
    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "events_pq")
    (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "value")
        .repartition(4)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_stream_to_memory(
        running_user_stats(stream), "s07_state", output_mode="update"
    )
    q.awaitTermination()
    conv = spark.sql(
        """
        SELECT user_id, max(n_events) AS n_events,
               round(max_by(value_sum, n_events), 6) AS value_sum,
               max_by(last_ts, n_events) AS last_ts
        FROM s07_state GROUP BY user_id
        """
    )
    got = {
        r.user_id: (r.n_events, r.value_sum, r.last_ts)
        for r in conv.collect()
    }
    want = {
        r.user_id: (r.n_events, r.value_sum, r.last_ts)
        for r in QUERIES["s07_running_user_totals"](spark, sf).collect()
    }
    assert got == want
