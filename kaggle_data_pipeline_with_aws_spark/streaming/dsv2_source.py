"""Transaction-log CDC as a REAL ``spark.readStream`` source (round-10
verdict #2): the ``TxnLogStream`` tailer (streaming/cdc_source.py) is a
driver-side python loop; production consumers expect
``spark.readStream.format(...)`` with engine-managed checkpoints. This
module wraps the same log-tail semantics in Spark 4's Python
DataSource V2 streaming API (``pyspark.sql.datasource`` — required;
there is no fallback for older runtimes), so the micro-batch
boundaries, offsets, recovery, and rate limiting are all the ENGINE's:

- **Offset = committed version.** The stream's offset is one integer
  (``{"version": N}`` — "everything through N consumed"), exactly the
  tailer's ``last_version`` checkpoint state and Delta source's
  reservoir version. Spark persists it in the stream checkpoint, so a
  killed query resumes at the next unconsumed version with no
  duplicate and no loss (tests/test_dsv2_source.py kills and resumes
  mid-stream).
- **One micro-batch per committed version** (with
  ``versionsPerBatch=1``, the default): ``latestOffset`` advances at
  most ``versionsPerBatch`` versions per trigger — the T6 /
  ``maxFilesPerTrigger`` rate-limit analog, so a backlogged log drains
  in bounded batches instead of one giant catch-up scan. One caveat,
  verified empirically: the engine asks for ``latestOffset`` BEFORE it
  reveals the batch base (``initialOffset`` on a fresh query, the
  recovered checkpoint offset on a restart — the latter only ever
  reaches the reader via ``partitions``), so the FIRST batch of a
  reader instance spans every version committed up to that point;
  every later trigger is limited. Returning anything smaller there
  would risk regressing the engine's offset on restart (duplicate
  emission) — wide-but-safe is the correct trade.
- **Partition = one data file.** ``partitions(start, end)`` lists the
  files ADDED by the window's versions (log metadata only — the
  append-only CDC fast path); each becomes an ``InputPartition`` read
  in parallel by executors via pyarrow → Arrow RecordBatches (the
  vectorized path, no per-row python).
- **Rewrite commits** (entries with removes) follow the tailer's
  contract: ``onRewrite=fail`` (default) raises — a rewrite's adds are
  a new table STATE, not row-level changes; ``adds`` emits the added
  files anyway (Delta's ``skipChangeCommits=false``); ``skip`` drops
  them (``skipChangeCommits=true``).

I/O note: the DataSource and its executors-side readers run in plain
Python processes with NO JVM access, so ``_PyLog`` does only local IO —
it lists ``_txn`` and reads JSON files with ``os`` — and the data files
are read with ``pyarrow``; correct for local and ``file://`` roots
(this sandbox, single-box deployments). Replaying the log is NOT done
here: ``_PyLog`` hands its listing and reader to
``operators.txnlog.replay_log``, the same checkpoint-plus-tail fold
``VersionedTable`` runs, so the two readers cannot disagree on a live
set, schema or deletion vector. A cloud deployment points ``_PyLog``
at an fsspec-backed filesystem; the JVM-Hadoop-FS path stays the
batch/tailer face's job. Schema evolution across the streamed window is
refused loudly (a missing column raises in the reader): a streaming
schema is fixed at query start, so evolve-then-stream consumers
restart the query — the documented Structured Streaming contract.

The same DataSource also carries the BATCH face (round 11):
``spark.read.format("txnlog").option("version", N)`` is snapshot/time
travel through the standard reader API — ``partitions()`` replays the
log to the version's live file set and deletion vectors, and each file
reads as Arrow batches.

Registry faces: s16 (plans/wave68.py) proves batch-for-batch equality
with the s15 tailer over the same staged table through the DuckDB
oracle; q126 (plans/wave74.py) proves the batch reader's three-version
time travel against q114's oracle. tests/test_dsv2_source.py covers
engine checkpoint recovery (kill mid-stream, resume: no dup, no loss)
and the rewrite modes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..operators.txnlog import read_plan, replay_log


def _local_root(path: str) -> str:
    """Strip a file:// scheme; reject non-local URIs (the pure-python
    reader has no JVM — see the module docstring)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if "://" in path:
        raise ValueError(
            f"txnlog DSv2 source reads local/file:// roots only, got "
            f"{path!r} (cloud roots: swap in an fsspec filesystem)"
        )
    return path


class _PyLog:
    """Worker-safe local IO on a ``VersionedTable`` root: list ``_txn``
    and read a JSON file, with ``os``. Everything else — the head, the
    checkpoint-plus-tail read plan, the add/remove fold — is
    ``operators.txnlog``'s, shared with ``VersionedTable``. Read side
    only: ALL writes stay with ``VersionedTable`` (single protocol
    owner)."""

    def __init__(self, root: str):
        self.root = _local_root(root).rstrip("/")

    def _names(self) -> list[str]:
        log_dir = os.path.join(self.root, "_txn")
        return os.listdir(log_dir) if os.path.isdir(log_dir) else []

    def read(self, rel: str) -> dict:
        """The parsed JSON file at root-relative ``rel``."""
        with open(os.path.join(self.root, rel)) as fh:
            return json.load(fh)

    def current_version(self) -> int:
        return read_plan(self._names(), None)[1]

    def state(self, version: int | None):
        """The table's replayed state at ``version`` (default: head;
        past the head clamps to it)."""
        st = replay_log(
            self._names(), lambda name: self.read(f"_txn/{name}"), version
        )
        if st.schema is None:
            raise ValueError(f"empty transaction log under {self.root!r}")
        return st


class RewriteCommitInStreamError(RuntimeError):
    """A streamed version removed files (overwrite/compact/merge): its
    adds are a new table STATE, not row-level changes. Set
    ``onRewrite=adds`` or ``skip`` (Delta's skipChangeCommits analog),
    or use ``VersionedTable.row_diff`` for row-level CDC."""


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        schema_json: str,
        dv_positions: list[int] | None = None,
    ):
        self.path = path
        self.schema_json = schema_json
        # deleted row positions (deletion vector) — None for a file
        # with no vector; shipped with the partition (delete-sized
        # metadata, resolved at plan time from the sidecar)
        self.dv_positions = dv_positions


def _read_file_partition(partition):
    """Executor-side read of one data file as Arrow batches with the
    query's fixed schema applied (select + cast: column order, int
    widths, timestamp units). A column missing from the file — schema
    evolution inside the read set — raises loudly. Shared by the
    stream and batch readers."""
    if not partition.path:
        return iter(())
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(
        StructType.fromJson(json.loads(partition.schema_json))
    )
    tbl = pq.read_table(partition.path)
    dead = getattr(partition, "dv_positions", None)
    if dead:
        # apply the file's deletion vector: keep every row position
        # not marked dead (positions are file-absolute row indices)
        import numpy as np

        keep = np.setdiff1d(
            np.arange(tbl.num_rows, dtype="int64"),
            np.asarray(dead, dtype="int64"),
        )
        tbl = tbl.take(keep)
    tbl = tbl.select(target.names).cast(target)
    return iter(tbl.to_batches())


class TxnLogStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offsets are committed versions, partitions
    are the window's added files, rows travel as Arrow batches."""

    def __init__(self, schema: StructType, options: dict):
        self.log = _PyLog(options["path"])
        self.schema_json = schema.json()
        self.start_after = int(options.get("startafter", -1))
        self.vpb = int(options.get("versionsperbatch", 1))
        if self.vpb < 1:
            raise ValueError("versionsPerBatch must be >= 1")
        self.on_rewrite = options.get("onrewrite", "fail").lower()
        if self.on_rewrite not in ("fail", "adds", "skip"):
            raise ValueError(f"bad onRewrite {self.on_rewrite!r}")
        self._last: int | None = None  # highest version handed out

    # -- offsets -------------------------------------------------------
    def initialOffset(self) -> dict:
        if self._last is None:
            self._last = self.start_after
        return {"version": self.start_after}

    def latestOffset(self) -> dict:
        head = self.log.current_version()
        if self._last is None:
            # engine asked before revealing the batch base (it does so
            # even on fresh queries — see the module docstring): one
            # wide-but-safe batch to head; every later trigger limited.
            return {"version": head}
        return {"version": min(head, self._last + self.vpb)}

    # -- planning ------------------------------------------------------
    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        self._last = v1
        parts: list[_FilePartition] = []
        for v in range(v0 + 1, v1 + 1):
            e = self.log.read(f"_txn/{v:08d}.json")
            if e["remove"]:
                if self.on_rewrite == "fail":
                    raise RewriteCommitInStreamError(
                        f"version {v} removed files (op={e['op']!r})"
                    )
                if self.on_rewrite == "skip":
                    continue
            parts.extend(
                _FilePartition(
                    os.path.join(self.log.root, rel), self.schema_json
                )
                for rel in e["add"]
            )
        # Spark requires >= 1 partition per planned batch; an
        # empty-window batch (rewrites skipped / empty commit) plans
        # one no-op partition.
        return parts or [_FilePartition("", self.schema_json)]

    # -- execution (runs in python workers) -----------------------------
    def read(self, partition):
        return _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        # offsets are engine-managed; versions are immutable — nothing
        # to clean up on our side.
        self._last = max(self._last or -1, int(end["version"]))


class TxnLogBatchReader(DataSourceReader):
    """Batch snapshot read AS OF a version: one partition per live
    file of the version's replayed file set (log metadata only — the
    same explicit-file-list scan ``VersionedTable.snapshot`` hands the
    JVM reader), each file's deletion vector attached to its
    partition and applied worker-side, rows as Arrow batches. Time
    travel through the standard reader API:
    ``spark.read.format("txnlog").option("path", root)
    .option("version", N).load()``. The version is PINNED by the
    DataSource before planning (head resolved once when the option is
    absent), so repeated actions on one DataFrame read one snapshot —
    a concurrent commit can never make two actions disagree or break
    the plan-time schema."""

    def __init__(self, schema: StructType, options: dict, version: int):
        self.log = _PyLog(options["path"])
        self.schema_json = schema.json()
        self.version = version

    def partitions(self):
        st = self.log.state(self.version)
        parts = [
            _FilePartition(
                os.path.join(self.log.root, rel),
                self.schema_json,
                self.log.read(st.dv[rel]["index"])["positions"]
                if rel in st.dv
                else None,
            )
            for rel in st.live
        ]
        return parts or [_FilePartition("", self.schema_json)]

    def read(self, partition):
        return _read_file_partition(partition)


class TxnLogDataSource(DataSource):
    """``spark.read.format("txnlog")`` / ``spark.readStream.format(
    "txnlog")`` over a VersionedTable root. Batch options: ``path``
    (required), ``version`` (snapshot AS OF, default head — clamped to
    the head like ``VersionedTable.snapshot``). Stream options:
    ``path`` (required), ``startAfter`` (default -1),
    ``versionsPerBatch`` (default 1), ``onRewrite`` (fail|adds|skip).
    Register once per session:
    ``spark.dataSource.register(TxnLogDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "txnlog"

    def _resolved_version(self) -> int:
        """Pin the batch-read version ONCE per DataSource instance:
        the explicit ``version`` option (clamped to the head like
        ``snapshot``), else the head AT RESOLUTION TIME — so
        ``schema()`` and every subsequent action plan against the
        same snapshot even while writers keep committing."""
        if not hasattr(self, "_pinned_version"):
            log = _PyLog(self.options["path"])
            head = log.current_version()
            v = self.options.get("version")
            self._pinned_version = (
                head if v is None else min(int(v), head)
            )
        return self._pinned_version

    def schema(self):
        # batch time travel reads the schema AS OF the pinned version
        # (a later schema-evolution commit must not leak backwards);
        # for streams the pinned head IS the stream-start schema — the
        # fixed-streaming-schema contract unchanged.
        return _PyLog(self.options["path"]).state(
            self._resolved_version()
        ).schema

    def reader(self, schema: StructType):
        return TxnLogBatchReader(
            schema, dict(self.options), self._resolved_version()
        )

    def streamReader(self, schema: StructType):
        return TxnLogStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotently register the source with ``spark``."""
    spark.dataSource.register(TxnLogDataSource)
