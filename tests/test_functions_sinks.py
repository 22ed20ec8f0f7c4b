"""Tests for the scalar function library (§2.8) and sinks (§2.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.functions import scalars as S
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
from kaggle_data_pipeline_with_aws_spark.sources import sinks


def test_scalar_functions_reference_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(
                s="Hello World",
                d="2024-03-09",
                bad_d="not-a-date",
                arr=["a", "b"],
                one=["solo"],
                x=3,
                y=3,
                flag=True,
            )
        ]
    )
    row = df.select(
        S.lower("s").alias("lo"),
        S.to_date_coerce("d").alias("dt"),
        S.to_date_coerce("bad_d").alias("coerced"),
        S.year(S.to_date_coerce("d")).alias("yr"),
        S.reformat_date("d").alias("fmt"),
        S.zero_default(F.lit(None).cast("int")).alias("zd"),
        S.first_element("arr").alias("first"),
        S.second_element("arr").alias("second"),
        S.second_element("one").alias("missing2"),
        S.eq_flag("x", "y").alias("eq"),
        S.composite_key("x", "y").alias("ck"),
        S.recode_bool("flag").alias("recoded"),
        S.endswith("s", "World").alias("ew"),
        S.format_string("%s-%d", "s", "x").alias("tpl"),
        S.nested_sum(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("nsum"),
    ).collect()[0]
    assert row.lo == "hello world"
    assert str(row.dt) == "2024-03-09"
    assert row.coerced is None  # errors='coerce' semantics
    assert row.yr == 2024
    assert row.fmt == "09/03/2024"
    assert row.zd == 0
    assert row.first == "a" and row.second == "b"
    assert row.missing2 is None  # teams[1] if len > 1 else None
    assert row.eq is True
    assert row.ck == "3-3"
    assert row.recoded == "Won Match"
    assert row.ew is True
    assert row.tpl == "Hello World-3"
    assert row.nsum == 6


def test_upsert_keyed_idempotent_and_updates_win(spark, tmp_path):
    table = str(tmp_path / "docs")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, val STRING")
    sinks.upsert_keyed(spark, table, v1, ["id"])
    assert sorted(
        (r.id, r.val) for r in VersionedTable(spark, table).snapshot().collect()
    ) == [(1, "a"), (2, "b")]

    # replay the same batch → no duplicates (T7)
    sinks.upsert_keyed(spark, table, v1, ["id"])
    assert VersionedTable(spark, table).snapshot().count() == 2

    # overlapping batch → updates win, new keys insert
    v2 = spark.createDataFrame([(2, "B2"), (3, "c")], "id INT, val STRING")
    sinks.upsert_keyed(spark, table, v2, ["id"])
    assert sorted(
        (r.id, r.val) for r in VersionedTable(spark, table).snapshot().collect()
    ) == [(1, "a"), (2, "B2"), (3, "c")]

    # duplicate key in one batch → the max of (val, id) wins, not the
    # first row
    v3 = spark.createDataFrame([(4, "d"), (4, "e")], "id INT, val STRING")
    sinks.upsert_keyed(spark, table, v3, ["id"])
    assert sorted(
        (r.id, r.val) for r in VersionedTable(spark, table).snapshot().collect()
    ) == [(1, "a"), (2, "B2"), (3, "c"), (4, "e")]


def test_with_notification_success_and_failure():
    events: list[tuple[str, str]] = []

    @sinks.with_notification(lambda s, m: events.append((s, m)))
    def ok_stage():
        return 42

    @sinks.with_notification(lambda s, m: events.append((s, m)), "boom")
    def bad_stage():
        raise ValueError("nope")

    assert ok_stage() == 42
    with pytest.raises(ValueError):
        bad_stage()
    assert events[0] == ("ok_stage", "success")
    assert events[1][0] == "boom" and events[1][1].startswith("failure")


def test_flatten_degenerate_documents_null_not_throw(spark, tmp_path):
    """ANSI-mode regression: .get(..., None) semantics must hold for
    documents missing teams[1], player_of_match, dates — null, never an
    out-of-bounds error."""
    import json

    from kaggle_data_pipeline_with_aws_spark.operators import flatten
    from kaggle_data_pipeline_with_aws_spark.schemas import (
        CRICSHEET_MATCH_SCHEMA,
    )
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        read_json_documents,
    )

    doc = {
        "info": {
            "dates": ["2024-01-01"],
            "venue": "G",
            "teams": ["OnlyTeam"],  # degenerate: single team
            "toss": {"winner": "OnlyTeam", "decision": "bat"},
            "outcome": {"result": "no result"},
        },
        "innings": [],
    }
    d = tmp_path / "degenerate"
    d.mkdir()
    (d / "999999.json").write_text(json.dumps(doc))
    raw = read_json_documents(spark, str(d), CRICSHEET_MATCH_SCHEMA)
    row = flatten.matchwise(raw).collect()[0]
    assert row.team_1 == "OnlyTeam"
    assert row.team_2 is None
    assert row.player_of_the_match is None
    assert flatten.deliverywise(raw).count() == 0


def test_parquet_document_store_roundtrip(spark, tmp_path):
    from kaggle_data_pipeline_with_aws_spark.sources.document_store import (
        ParquetDocumentStore,
    )

    store = ParquetDocumentStore(spark, str(tmp_path / "store"))
    v1 = spark.createDataFrame(
        [(1, "x"), (2, "y")], "match_id INT, val STRING"
    )
    store.upsert("matchwise", v1, ["match_id"])
    store.upsert("matchwise", v1, ["match_id"])  # replay converges
    assert store.read("matchwise").count() == 2
    v2 = spark.createDataFrame([(2, "Y2")], "match_id INT, val STRING")
    store.upsert("matchwise", v2, ["match_id"])
    got = {
        (r.match_id, r.val) for r in store.read("matchwise").collect()
    }
    assert got == {(1, "x"), (2, "Y2")}


def test_mongo_document_store_fails_clearly_without_connector(spark):
    import pytest as _pytest

    from kaggle_data_pipeline_with_aws_spark.sources.document_store import (
        MongoDocumentStore,
    )

    with _pytest.raises(RuntimeError, match="mongo-spark-connector"):
        MongoDocumentStore(spark, "mongodb://localhost", "db")


def test_kaggle_publish_artifact_shape(spark, tmp_path):
    """K7 golden: the staged artifacts must be byte-shaped exactly like
    upload_dataset_to_kaggle_lambda.py:73-100 (plain json.dumps — space
    after colon and comma, no trailing newline) and the version notes
    must use the reference's literal template (line 66)."""
    import json
    import os

    # kaggle.json (upload...py:78-85)
    cfg = tmp_path / "cfg"
    p = sinks.create_kaggle_json(str(cfg), "someuser", "somekey")
    assert (
        open(p, encoding="utf-8").read()
        == '{"username": "someuser", "key": "somekey"}'
    )
    assert os.environ["KAGGLE_CONFIG_DIR"] == str(cfg)

    # staged publish folder
    csv = tmp_path / "matchwise_data.csv"
    csv.write_text("match_id,date\n1,2024-01-05\n")
    mw = spark.createDataFrame(
        [
            (10, "2024-01-05", "India", "Australia"),
            (12, "2024-06-30", "England", "Pakistan"),
            (11, "2024-06-30", "Kenya", "Oman"),  # same date, lower id
        ],
        "match_id INT, date STRING, team_1 STRING, team_2 STRING",
    )
    folder = tmp_path / "upload"
    staged = sinks.stage_kaggle_publish(
        mw, str(folder), "someuser", "some-slug", [str(csv)]
    )
    assert staged.version_notes == (
        "Updated till the match between England and Pakistan on 30/06/2024"
    )
    # dataset-metadata.json (upload...py:93-99), byte-identical shape
    raw = open(staged.metadata_path, encoding="utf-8").read()
    assert raw == json.dumps(
        {
            "id": "someuser/some-slug",
            "subtitle": (
                "Complete T20I data updated till 30/06/2024 "
                "for ML & match analysis"
            ),
        }
    )
    assert os.path.basename(staged.metadata_path) == "dataset-metadata.json"
    # the CSVs sit next to the metadata, as the API-call folder expects
    assert staged.files == [str(folder / "matchwise_data.csv")]
    assert (folder / "matchwise_data.csv").read_text().startswith("match_id")


def _mongo_connector_present(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "com.mongodb.spark.sql.connector.MongoTableProvider"
        )
        return True
    except Exception:
        return False


def test_mongo_document_store_contract(spark):
    """S4/K2/K3 contract through the REAL connector — skipped (never
    absent) until the jar is on the classpath and a live server is
    provided via SPARK_GRAFT_MONGO_URI. Same assertions as the parquet
    round-trip: replayed upserts converge on the natural key, the full
    scan returns the merged collection."""
    import os

    from kaggle_data_pipeline_with_aws_spark.sources.document_store import (
        MongoDocumentStore,
    )

    if not _mongo_connector_present(spark):
        pytest.skip("mongo-spark-connector not on classpath")
    uri = os.environ.get("SPARK_GRAFT_MONGO_URI")
    if not uri:
        pytest.skip("SPARK_GRAFT_MONGO_URI not set")

    store = MongoDocumentStore(spark, uri, "spark_graft_test")
    coll = "contract_roundtrip"
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "match_id INT, val STRING"
    )
    v2 = spark.createDataFrame(
        [(2, "B2"), (3, "c")], "match_id INT, val STRING"
    )
    store.upsert(coll, v1, ["match_id"])
    store.upsert(coll, v2, ["match_id"])  # replay semantics: 2 replaced
    got = sorted(
        (r["match_id"], r["val"])
        for r in store.read(coll).select("match_id", "val").collect()
    )
    assert got == [(1, "a"), (2, "B2"), (3, "c")]


def test_write_training_shards_caps_and_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table
    from kaggle_data_pipeline_with_aws_spark.sources.sinks import (
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    audit = write_training_shards(
        docs, out, partition_cols=("source",), max_records_per_file=7
    )
    # audit covers every source and sums to the corpus size
    assert sum(audit.values()) == docs.count()
    assert all(k.startswith("source=") for k in audit)
    back = spark.read.parquet(out)
    per_file = (
        back.withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_file) <= 7
    # partition pruning works on the layout
    one = back.filter(F.col("source") == "src0")
    assert one.count() == audit["source=src0"]


def test_epoch_micros_ntz_safe_on_real_events(spark):
    """Every parquet timestamp in the harness reads as TIMESTAMP_NTZ;
    epoch_micros must analyze (unix_micros alone raises at analysis
    time) and agree with the raw micros stored in the file."""
    import datetime

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert events.schema["ts"].dataType.typeName() == "timestamp_ntz"
    row = (
        events.select("ts", S.epoch_micros("ts").alias("us"))
        .orderBy("ts")
        .first()
    )
    expected = int(
        row["ts"].replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    assert row["us"] == expected
    # tz-aware TIMESTAMP input keeps working (cast is a no-op there)
    aware = events.select(
        S.epoch_micros(F.col("ts").cast("timestamp")).alias("us")
    ).first()
    assert aware["us"] is not None


def test_orc_round_trip_preserves_rows_and_pushes_filters(spark, tmp_path):
    """ORC interchange face: write→read round-trips values exactly,
    and an equality predicate on the read side reaches the ORC scan
    (PushedFilters), same as the parquet guarantees."""
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        load_table,
        read_orc,
        write_orc,
    )

    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(src, out)
    back = read_orc(spark, out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    plan = (
        back.filter(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan.replace("\n", " ") or "EqualTo(o_orderstatus,F)" in plan


def test_avro_round_trip_preserves_rows(spark, tmp_path):
    """Avro interchange face: write→read round-trips values exactly.
    Classpath-gated like the Mongo connector — spark-avro is an
    EXTERNAL module since Spark 2.4 and this sandbox ships only the
    avro core jars."""
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        avro_available,
        load_table,
        read_avro,
        write_avro,
    )

    if not avro_available(spark):
        pytest.skip("spark-avro datasource not on the classpath")
    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders_avro")
    write_avro(src, out)
    back = read_avro(spark, out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_avro_face_fails_eagerly_without_classpath(spark, tmp_path):
    """Without spark-avro on the classpath, both faces raise the
    wiring-time RuntimeError (never a mid-job analysis failure)."""
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        avro_available,
        load_table,
        read_avro,
        write_avro,
    )

    if avro_available(spark):
        pytest.skip("spark-avro IS available here; gate untestable")
    with pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "nope"))
    with pytest.raises(RuntimeError, match="spark-avro"):
        write_avro(
            load_table(spark, "/root/testdata/sf0.001", "region"),
            str(tmp_path / "nope"),
        )


def test_write_jsonl_round_trips_and_is_line_delimited(spark, tmp_path):
    """JSONL export: one JSON object per line, gzip-compressed parts,
    values round-trip through a schema'd read."""
    import gzip
    import glob
    import json as _json

    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table
    from kaggle_data_pipeline_with_aws_spark.sources.sinks import write_jsonl

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_jsonl")
    n = write_jsonl(docs, out)
    assert n == docs.count()
    parts = sorted(glob.glob(out + "/part-*.json.gz"))
    assert parts, "expected gzip json parts"
    with gzip.open(parts[0], "rt") as f:
        first = f.readline()
    obj = _json.loads(first)  # every line is a standalone JSON object
    assert "doc_id" in obj and "text" in obj
    back = spark.read.json(out)
    assert back.count() == docs.count()
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
