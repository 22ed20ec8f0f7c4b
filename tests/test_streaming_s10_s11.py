"""Stream-vs-batch equivalence for s10 (windowed KMV distinct) and
s11 (stream-static segment enrich): the registered faces run in batch
for the oracle; here the SAME operator functions run under readStream
(file source, AvailableNow) and must produce identical rows."""

from __future__ import annotations

import json
import os

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kaggle_data_pipeline_with_aws_spark.streaming import (
    run_stream_to_memory,
    segment_windowed_counts,
    windowed_kmv_distinct,
)

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


def _event_rows(n: int) -> list[dict]:
    rows = []
    for i in range(n):
        hour = (i * 3) // 60
        minute = (i * 3) % 60
        rows.append(
            {
                "event_id": i,
                "event_time": f"2024-01-01T{hour:02d}:{minute:02d}:00.000Z",
                # 37 distinct users, deliberately > the sketch k in no
                # window but enough for multi-row sets
                "user_id": (i * 7) % 37,
                "event_type": ["click", "view", "purchase"][i % 3],
                "value": float(i),
            }
        )
    return rows


def _sorted(rows, keys):
    return sorted(
        [tuple(r[k] for k in keys) for r in rows]
    )


# 200 rows at 3-min spacing end at 09:57; the final watermark is
# 09:47, so append mode never emits the still-open 09:00 window —
# batch-side expectations must drop windows the watermark left open.
import datetime

_LAST_CLOSED = datetime.datetime(2024, 1, 1, 9, 0)


def _closed(rows):
    return [r for r in rows if r["window_start"] < _LAST_CLOSED]


def test_s10_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src, _event_rows(200))

    batch = windowed_kmv_distinct(
        spark.read.schema(EVENT_SCHEMA).json(src), k=16
    ).collect()
    assert batch, "fixture must produce windows"
    assert any(r["k_used"] > 1 for r in batch)

    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = run_stream_to_memory(
        windowed_kmv_distinct(stream, k=16), "s10_mem", output_mode="append"
    )
    q.awaitTermination()
    got = spark.table("s10_mem").collect()

    keys = ["window_start", "k_used", "kth", "est_distinct"]
    assert _sorted(got, keys) == _sorted(_closed(batch), keys)


def test_s11_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src, _event_rows(200))
    dim = spark.createDataFrame(
        [(u, ["GOLD", "SILVER", "BRONZE"][u % 3]) for u in range(37)],
        "c_custkey long, c_mktsegment string",
    )

    batch = segment_windowed_counts(
        spark.read.schema(EVENT_SCHEMA).json(src), dim
    ).collect()
    assert batch
    assert {r["c_mktsegment"] for r in batch} == {"GOLD", "SILVER", "BRONZE"}

    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = run_stream_to_memory(
        segment_windowed_counts(stream, dim), "s11_mem", output_mode="append"
    )
    q.awaitTermination()
    got = spark.table("s11_mem").collect()

    keys = ["window_start", "c_mktsegment", "n_events"]
    assert _sorted(got, keys) == _sorted(_closed(batch), keys)


def test_stream_merge_sink_upserts_across_batches(spark, tmp_path):
    """s12/T7: a keyed stream MERGEs into a parquet table per
    micro-batch — later files update existing keys and insert new
    ones, replays do not duplicate."""
    from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
    from kaggle_data_pipeline_with_aws_spark.streaming.incremental import (
        stream_merge_sink,
    )

    def read_target():
        return VersionedTable(spark, target).snapshot()

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    schema = "user_id LONG, event_time TIMESTAMP, value DOUBLE"
    land(
        "a.jsonl",
        [
            {"user_id": 1, "event_time": "2024-01-01T00:00:00Z", "value": 1.0},
            {"user_id": 2, "event_time": "2024-01-01T00:01:00Z", "value": 2.0},
        ],
    )
    q = stream_merge_sink(
        spark.readStream.schema(schema).json(src), target, ckpt, ["user_id"]
    )
    q.awaitTermination()
    t1 = {r["user_id"]: r["value"] for r in read_target().collect()}
    assert t1 == {1: 1.0, 2: 2.0}

    # second landing: update key 2, insert key 3; key 1 untouched
    land(
        "b.jsonl",
        [
            {"user_id": 2, "event_time": "2024-01-01T01:00:00Z", "value": 20.0},
            {"user_id": 3, "event_time": "2024-01-01T01:01:00Z", "value": 3.0},
        ],
    )
    q = stream_merge_sink(
        spark.readStream.schema(schema).json(src), target, ckpt, ["user_id"]
    )
    q.awaitTermination()
    t2 = {r["user_id"]: r["value"] for r in read_target().collect()}
    assert t2 == {1: 1.0, 2: 20.0, 3: 3.0}
    assert read_target().count() == 3

    # replay with the same checkpoint: nothing reprocessed
    q = stream_merge_sink(
        spark.readStream.schema(schema).json(src), target, ckpt, ["user_id"]
    )
    q.awaitTermination()
    assert {
        r["user_id"]: r["value"] for r in read_target().collect()
    } == t2
