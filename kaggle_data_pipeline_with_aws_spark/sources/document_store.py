"""Keyed document store behind a backend interface (SURVEY §7.6).

The reference persists both tables in MongoDB Atlas with natural-key
``_id`` (K2/K3: ``extract_matchwise...py:100-111``,
``extract_deliverywise...py:81-94``) and reads them back with full
collection scans (S4: ``convert_mongo_db_data_to_csv_lambda.py:39-51``).
The engine expresses that as one interface with two backends:

- ``ParquetDocumentStore`` — the default and what tests/bench run:
  one transaction-logged parquet table per collection
  (``operators.txnlog.VersionedTable``); each upsert is one atomic
  MERGE commit (sources/sinks.upsert_keyed) and a read is the latest
  snapshot.
- ``MongoDocumentStore`` — the real connector
  (``org.mongodb.spark:mongo-spark-connector``): same four methods,
  each a one-liner over ``format("mongodb")``. Import-gated: absent
  the connector jar it raises a clear error at construction, never at
  import.

Call sites depend on the interface only, so swapping stores is a
constructor change — the pipeline DAG, the idempotency contract
(replays converge), and the plans are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.txnlog import VersionedTable
from .sinks import upsert_keyed


class DocumentStore:
    """Interface: a named collection of documents with a natural key."""

    def read(self, collection: str) -> DataFrame:  # S4 full scan
        raise NotImplementedError

    def upsert(
        self, collection: str, updates: DataFrame, key_cols: list[str]
    ) -> None:  # K2/K3 keyed write — replays converge, never duplicate
        raise NotImplementedError


class ParquetDocumentStore(DocumentStore):
    """Parquet-backed store rooted at ``base_dir`` (one subdir per
    collection). The engine-owned default."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")

    def _path(self, collection: str) -> str:
        return f"{self.base_dir}/{collection}"

    def read(self, collection: str) -> DataFrame:
        return VersionedTable(self.spark, self._path(collection)).snapshot()

    def upsert(
        self, collection: str, updates: DataFrame, key_cols: list[str]
    ) -> None:
        upsert_keyed(self.spark, self._path(collection), updates, key_cols)


class MongoDocumentStore(DocumentStore):
    """mongo-spark-connector backend. Requires the connector on the
    session classpath (``spark.jars.packages=org.mongodb.spark:
    mongo-spark-connector_2.13:<ver>``); checked eagerly so a
    misconfigured cluster fails at wiring time, not mid-pipeline."""

    def __init__(self, spark: SparkSession, uri: str, database: str):
        self.spark = spark
        self.uri = uri
        self.database = database
        try:
            spark._jvm.java.lang.Class.forName(
                "com.mongodb.spark.sql.connector.MongoTableProvider"
            )
        except Exception as exc:  # noqa: BLE001
            raise RuntimeError(
                "mongo-spark-connector is not on the classpath; add "
                "spark.jars.packages=org.mongodb.spark:"
                "mongo-spark-connector_2.13:10.x or use "
                "ParquetDocumentStore"
            ) from exc

    def read(self, collection: str) -> DataFrame:
        return (
            self.spark.read.format("mongodb")
            .option("connection.uri", self.uri)
            .option("database", self.database)
            .option("collection", collection)
            .load()
        )

    def upsert(
        self, collection: str, updates: DataFrame, key_cols: list[str]
    ) -> None:
        (
            updates.write.format("mongodb")
            .mode("append")
            .option("connection.uri", self.uri)
            .option("database", self.database)
            .option("collection", collection)
            .option("idFieldList", ",".join(key_cols))
            .option("operationType", "replace")
            .save()
        )
