"""Sinks — SURVEY §2.2 (K1–K8), Spark-first.

The reference writes to MongoDB (document upserts keyed by ``_id``),
DynamoDB (per-file status flags), S3 CSV objects, and the Kaggle API,
with a Telegram notifier wrapped around every stage. Here each sink is
re-expressed over the storage the engine actually owns:

- **Keyed document store** (K2/K3): a transaction-logged parquet table
  (``operators.txnlog.VersionedTable``) with the natural-key
  idempotency MongoDB gave the reference for free (``_id = match_id``
  / composite ball key — replays converge instead of duplicating,
  ``extract_matchwise...py:104``, ``extract_deliverywise...py:88``).
  Each upsert is one atomic MERGE commit. A real ``mongodb``-connector
  write is the same one-line ``df.write.format(...)`` behind the same
  interface (sources/document_store.py); the parquet form is what
  tests and the bench run.
- **Ledger upsert** (K4): operators/ledger.py (one append commit per
  cycle, after both silver commits).
- **CSV publish** (K5): materialize.write_sorted_csv (order is part of
  the artifact).
- **Dataset publish** (K7): the staged upload folder — the Kaggle-API
  call itself is IO out of engine scope; the top-1 latest match comes
  from ``pipeline.latest_match``.
- **Stage notifier** (K8): the exception_handler decorator semantics
  (``utils.py:17-63``) as a plain callable wrapper.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..pipeline import VERSION_NOTES, latest_match


# ---------------------------------------------------------------------------
# K2/K3 — keyed idempotent document sink
# ---------------------------------------------------------------------------

def upsert_keyed(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Idempotent keyed write: new keys inserted, existing keys replaced
    by the incoming row (MongoDB ``_id`` semantics — a replayed batch
    converges instead of duplicating). One atomic commit: the first
    write appends, later ones MERGE with every non-key column taken
    from the update. Duplicate keys within ``updates`` keep one row,
    deterministically: the max of (non-key columns, keys) per key."""
    table = VersionedTable(spark, table_dir)
    values = [c for c in updates.columns if c not in key_cols]
    updates = (
        updates.groupBy(*key_cols)
        .agg(F.max(F.struct(*values, *key_cols)).alias("__s"))
        .select(*[F.col(f"__s.{c}").alias(c) for c in updates.columns])
    )
    if table.current_version() == -1:
        table.commit(updates)
        return
    table.commit_merge(
        updates, key_cols, when_matched={c: F.col(f"s.{c}") for c in values}
    )


# ---------------------------------------------------------------------------
# K7 — dataset publish (upload_dataset_to_kaggle_lambda.py:37-129)
# ---------------------------------------------------------------------------

def create_kaggle_json(config_dir: str, username: str, key: str) -> str:
    """``kaggle.json`` exactly as ``_create_kaggle_json_file``
    (upload_dataset_to_kaggle_lambda.py:73-86): a plain ``json.dumps``
    of ``{"username", "key"}`` written under ``config_dir``, with
    ``KAGGLE_CONFIG_DIR`` pointed at that directory — byte-identical
    artifact, credentials injected instead of read from env."""
    os.makedirs(config_dir, exist_ok=True)
    path = os.path.join(config_dir, "kaggle.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps({"username": username, "key": key}))
    os.environ["KAGGLE_CONFIG_DIR"] = config_dir
    return path


def create_dataset_metadata_json(
    folder: str, username: str, slug: str, date: str
) -> str:
    """``dataset-metadata.json`` exactly as ``_create_metadata_json_file``
    (upload_dataset_to_kaggle_lambda.py:88-100): ``id`` is
    ``username/slug`` and the subtitle carries the dd/MM/yyyy date."""
    metadata = {
        "id": f"{username}/{slug}",
        "subtitle": (
            f"Complete T20I data updated till {date} "
            f"for ML & match analysis"
        ),
    }
    path = os.path.join(folder, "dataset-metadata.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps(metadata))
    return path


@dataclass
class PublishStaging:
    folder: str
    version_notes: str
    metadata_path: str
    files: list[str] = field(default_factory=list)


def stage_kaggle_publish(
    matchwise: DataFrame,
    folder: str,
    username: str,
    slug: str,
    csv_paths: list[str],
) -> PublishStaging:
    """Full no-network K7 (upload_dataset_to_kaggle_lambda.py:37-129):
    stage the upload folder with the dataset CSVs (the reference
    downloads them from S3, upload...py:102-117), derive the last match
    — the reference takes ``iloc[-1]`` of the (date, match_id)-sorted
    CSV, which is exactly top-1 by (date desc, match_id desc) — write
    ``dataset-metadata.json``, and build the version notes with the
    reference's literal template (upload...py:63-67):
    ``Updated till the match between {team_1} and {team_2} on {date}``.
    The ``api.dataset_create_version(delete_old_versions=True, folder,
    version_notes)`` call is the one network step left to the caller.
    """
    os.makedirs(folder, exist_ok=True)
    files = []
    for src in csv_paths:
        dst = os.path.join(folder, os.path.basename(src))
        shutil.copyfile(src, dst)
        files.append(dst)
    last = latest_match(matchwise)
    metadata_path = create_dataset_metadata_json(
        folder, username, slug, last["formatted_date"]
    )
    return PublishStaging(
        folder=folder,
        version_notes=VERSION_NOTES.format(**last.asDict()),
        metadata_path=metadata_path,
        files=files,
    )


# ---------------------------------------------------------------------------
# K8 — stage notifier (utils.py:17-63 exception_handler semantics)
# ---------------------------------------------------------------------------

def with_notification(
    notify: Callable[[str, str], None],
    stage_name: str | None = None,
) -> Callable:
    """Wrap a pipeline stage: on success notify(stage, "success"), on
    failure notify(stage, "failure: <err>") and re-raise — the decorator
    shape of the reference's Telegram wrapper, with the transport (an
    HTTP POST there) injected instead of hard-coded."""

    def deco(fn: Callable) -> Callable:
        name = stage_name or fn.__name__

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            try:
                result = fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 — mirror, then re-raise
                notify(name, f"failure: {exc}")
                raise
            notify(name, "success")
            return result

        return wrapped

    return deco


def write_training_shards(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("source",),
    order_cols: tuple[str, ...] = ("doc_id",),
    max_records_per_file: int = 1000,
    codec: str = "zstd",
) -> dict[str, int]:
    """Materialize a curated corpus as training shards: one directory
    per partition value, files capped at ``max_records_per_file`` rows,
    rows clustered by ``order_cols`` inside each file.

    The layout decisions are the 100 TB ones: ``repartition`` on the
    partition columns so each write task owns whole partition values
    (no 1000-files-per-value explosion from uncoordinated tasks), the
    per-file record cap re-splits hot partitions so a skewed source
    still yields loader-sized shards, and the within-partition sort
    gives stable shard contents for a fixed input — reruns produce
    byte-stable shards a downstream loader can checksum.

    Returns {partition_dir_name: row_count} as a write audit.
    """
    from pyspark.sql import functions as F

    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", codec)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    spark = df.sparkSession
    back = spark.read.parquet(path)
    counts = (
        back.groupBy(*partition_cols)
        .count()
        .collect()
    )
    return {
        "/".join(f"{c}={r[c]}" for c in partition_cols): r["count"]
        for r in counts
    }


def write_jsonl(
    df: DataFrame,
    path: str,
    order_cols: tuple[str, ...] = ("doc_id",),
    max_records_per_file: int = 10000,
    codec: str = "gzip",
) -> int:
    """Export as JSON-lines — the interchange format LLM training
    loaders actually consume. Spark's json sink IS jsonl (one object
    per line); rows are clustered by ``order_cols`` within files so a
    fixed input yields byte-stable shards (same rerun-checksum
    guarantee as write_training_shards), and the per-file cap keeps
    shards loader-sized. Returns the row count written (verified by
    reading back the directory)."""
    out = (
        df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
        if order_cols
        else df
    )
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", codec)
        .json(path)
    )
    return df.sparkSession.read.json(path).count()
