"""Source readers.

The engine's batch sources (SURVEY §2.1):

- Parquet star-schema tables (the driver's synthetic TPC-H-ish data) —
  the stand-in "silver zone" every query runs over. Columnar, pushdown,
  partition-prunable: the scan Catalyst wants.
- Schema'd JSON document scan for the nested Cricsheet-shaped input
  (S3 in the reference: ``extract_matchwise_cricsheet_data_lambda_function.py:44-46``)
  — one DataFrame over *all* match files instead of one Lambda per file.
- CSV with explicit schema (S6: ``upload_dataset_to_kaggle_lambda.py:124-126``).

All readers take explicit schemas — inference is a scan of the whole
input at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.scalars import file_id_from_name

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Plain parquet scan → full pushdown.

    ``events.parquet`` carries TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default; read nanos as long and truncate to
    microseconds with integer division (same truncation DuckDB applies
    when narrowing ns → its µs-precision TIMESTAMP). Integer ``div``, not
    ``/``: epoch-nanos (~1.7e18) exceed double's 2^53 exact range.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can be written in SQL."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_json_documents(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
) -> DataFrame:
    """Scan a directory of per-match JSON documents with an explicit schema.

    Replaces the reference's one-Lambda-per-file ``json.loads``
    (``extract_matchwise...py:44-46``): one distributed scan, file-source
    partitioning for free. ``match_id`` is derived from the filename the
    way ``utils.py:92-106`` does, but as a column expression
    (``F.input_file_name`` + regexp) instead of per-event code.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", True)
        .json(path)
        .withColumn("match_id", file_id_from_name())
    )


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Unsplittable-input guard for compute-heavy operators.

    A small table stored as one single-row-group parquet file scans as
    ONE partition no matter how many cores exist (parquet cannot split
    below a row group), serializing every map-side stage built on it —
    fatal for per-row-expensive ops (hashing every shingle, scoring
    every vector). When the scan cannot feed even half the cluster,
    round-robin repartition to full parallelism; the shuffle moves only
    the small input, and the expensive derived work (explodes, hashes,
    dot products) then runs wide. At real scale the input has plenty of
    partitions and this is a no-op, so plans are untouched exactly when
    the data is big enough not to need help.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read face (interchange with Hive-era warehouses). ORC is
    columnar with predicate pushdown like parquet — the same pruning
    and filter guarantees the plan tests assert for parquet scans
    apply (Spark's OrcFileFormat pushes filters and reads only
    referenced columns)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC write face: columnar output with the default zlib codec —
    the interchange format when the downstream is a Hive/Trino
    warehouse instead of the parquet lake."""
    df.write.mode(mode).orc(path)


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro datasource is on the session classpath.
    Avro ships as an EXTERNAL module since Spark 2.4
    (``spark.jars.packages=org.apache.spark:spark-avro_2.13:<ver>``);
    this sandbox carries only the avro core jars, so the face is
    classpath-gated exactly like the Mongo connector."""
    try:
        # the authoritative check: the same short-name lookup the
        # reader/writer will perform (Class.forName can false-positive
        # on partially-present avro core jars)
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def _require_avro(spark: SparkSession) -> None:
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro is not on the classpath; add "
            "spark.jars.packages=org.apache.spark:spark-avro_2.13:<ver> "
            "(Avro is an external datasource module since Spark 2.4)"
        )


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro read face (row-oriented interchange: Kafka archive dumps,
    schema-registry pipelines, sqoop-era exports). Avro is a row
    format — no column pruning or predicate pushdown at the scan, so
    the engine's pattern is land-and-convert: read Avro once, write
    parquet, run queries on the parquet (the readers are for the
    interchange hop, not the hot path). Classpath-checked eagerly so
    a misconfigured cluster fails at wiring time."""
    _require_avro(spark)
    return spark.read.format("avro").load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro write face: row-oriented output with the writer schema
    embedded per file — the handoff format when the downstream is a
    Kafka/schema-registry consumer rather than a SQL engine."""
    _require_avro(df.sparkSession)
    df.write.mode(mode).format("avro").save(path)
