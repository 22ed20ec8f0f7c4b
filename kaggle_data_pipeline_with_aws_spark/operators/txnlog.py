"""Versioned-table face: a minimal parquet transaction log with
snapshot (time-travel) reads, incremental file-level reads between
versions, and a row-level CDC diff (round-8 verdict #4 — ties the
existing MERGE face (q81), compaction (``commit_compact``) and
snapshot-reconcile diff (q60) together into one lakehouse semantic).

Log layout (the public Delta/Iceberg idea, reduced to its core):

    <root>/_txn/00000000.json     one entry per committed version
    <root>/data/v0-<uuid>/part-*.parquet   immutable data files

Each log entry is one JSON document: ``{"version": N, "op": ...,
"schema": <ddl>, "add": [relpath, ...], "remove": [relpath, ...],
"rows_added": N}``. The live file set at version V is the replay of
add/remove actions for entries 0..V; a snapshot read is a plain
parquet scan of exactly those files. Data files are IMMUTABLE — an
overwrite commits new files and logs removes; nothing is deleted
until an explicit ``vacuum`` (so every historical version stays
readable until then).

This log's commit is the repo's one atomic-publish primitive: the
weekly cycle's tables and the substrate artifacts
(``operators/substrate_store.py``) are both published through it.

I/O substrate (round-9 verdict #1): ALL log and file operations go
through the JVM Hadoop ``FileSystem``/``FileContext`` API — so the
root may be a plain local path, ``file:///…``, ``hdfs://…``, or any
other Hadoop FS URI, and the exact code path that runs locally runs
against a cluster filesystem.

Commit protocol (the Hadoop ``LogStore`` contract, as in Delta's OSS
``HDFSLogStore``): every log file — entry or checkpoint — is published
by ONE step, ``VersionedTable._publish``: the full document is written
and flushed to a HIDDEN temp name (``_txn/.tmp-<uuid>`` — readers never
list dot-files), then renamed with ``FileContext.rename(tmp, final,
Options.Rename.NONE)`` — one atomic operation that BOTH claims the name
(it raises ``FileAlreadyExistsException`` when the name is taken) and
makes the complete document visible. A concurrent reader therefore sees
either no entry or the whole entry — never a zero-length or partial
file — and a writer crash at any point leaves only an invisible temp.
Multi-writer commits are optimistic: the loser of a slot race re-reads
the log, recomputes its entry against the new head (overwrite removes
re-resolve to the current live set), and retries the NEXT slot; data
files are content-unique and immutable, so a retry never rewrites data.

Object-store note: S3 has no atomic rename — ``rename`` on ``s3a://``
is copy+delete and the NONE check is not atomic. A production S3
deployment swaps ``_publish`` for a put-if-absent write (S3
conditional PUT / DynamoDB coordination — the documented Delta S3
story). HDFS/ABFS-class stores implement the NONE check
atomically server-side; on the LOCAL filesystem FileContext's
rename-NONE is an exists-check followed by a rename (the
DelegateToFileSystem default), so a cross-PROCESS slot race could in
principle interleave — local roots are therefore safe for
single-process multi-threaded use (this sandbox / the test suite),
the same caveat Delta documents for its HDFSLogStore on file://.

Isolation model (round-10 verdict #1): commits whose content does NOT
depend on the table's read state — ``append`` and blind ``overwrite``
(truncate-and-load) — retry a lost version-slot race blindly against
the new head; the result serializes AFTER the interleaved commit and
no update is lost. Commits whose content WAS computed from a snapshot
(``commit_merge``, ``commit_compact``, or any caller passing
``read_version``) are conflict-checked: if the head moved past the
recorded read version, the stale result is NEVER committed — the
low-level ``commit`` raises ``ConcurrentModificationError`` (the
Delta OSS ConcurrentAppend/ConcurrentDeleteRead contract) and the
high-level merge/compact/delete wrappers RECOMPUTE against the new head
through one bounded retry helper (``_recompute``), so an append racing
a merge is either merged in or the merge fails loudly — never silently
clobbered.

Scale notes: the log is metadata (KB per commit — file paths and
counts, never data); snapshot reads hand Spark an explicit file list
AND the schema the log entry records, so planning a read opens no
parquet footer and runs no schema-inference job (only
``snapshot(merge_schema=True)`` infers, because it must union the
footers); partition pruning / predicate pushdown on the scan work
unchanged (a table with deletion vectors additionally anti-joins the scan
against the broadcast DV position set, a JSON scan of the sidecars —
``commit_delete_where``);
``read_incremental`` turns an append-only table into a CDC source
reading ONLY the files added in the version window (the streaming
fast path — ``streaming/cdc_source.py`` tails it); ``row_diff`` is one
full-outer join of two snapshots on the key — shuffle bounded by the
two snapshots, the general path when commits rewrite rows. Reading the
log costs one listing plus one small read per TAIL entry:
``checkpoint`` materializes the replayed state (live set + schema +
file stats) at a version — Delta's ``_last_checkpoint`` idea — and
every read starts from the latest checkpoint at-or-below its version,
so a 10⁵-commit table reads like a 10-commit one (q122 pins both the
replay-plan arithmetic and value identity across the checkpoint
boundary). A read lists ``_txn`` once and replays the checkpoint plus
tail once (``replay_log``) for its live set, schema, stats, bloom and
deletion-vector pointers together. The replay is IO-free — it takes the
listing and a file reader — so the JVM-free DataSource
(``streaming/dsv2_source.py``) runs the same fold over ``os`` reads.
"""

from __future__ import annotations

import hashlib
import json
import re
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_txn"
_INDEX_DIR = "_txn_index"
_DATA_DIR = "data"
_ENTRY_RE = re.compile(r"^\d{8}\.json$")
_CHECKPOINT_RE = re.compile(r"^chk-\d{8}\.json$")
_MAX_COMMIT_ATTEMPTS = 64
# Bloom index geometry: set bits per file filter and hash functions per
# key. Each sidecar records both, so readers never assume them.
BLOOM_BITS = 1 << 14
BLOOM_K = 2


def _stats_scalar(v):
    """Order-preserving log-entry scalar, or None when the value's
    JSON form would NOT preserve ordering. Range pruning compares
    recorded stats against caller bounds with Python ``<``/``>``, so
    only types whose JSON round-trip keeps that order are recordable:
    int/float/bool (numeric order) and str (lexicographic — correct
    for ISO dates and other order-encoded keys). Anything else
    (timestamps, decimals, dates) is NOT recorded — a stringified
    decimal would compare lexicographically ('9.5' > '10.0') and
    silently skip files containing matching rows (round-10 ADVICE).
    An unrecorded column simply keeps the file unprunable — skipping
    is only legal when the log can PROVE non-overlap."""
    return v if isinstance(v, (bool, int, float, str)) else None


def _bloom_position(value, j: int, bits: int) -> int:
    """Bit position of hash function ``j`` for a point-lookup key — the
    driver-side twin of the commit-time column expression
    (``portable_hash`` over ``'blm{j}|' || CAST(value AS STRING)``).
    All three engines (Spark commit scan, this Python probe, the
    DuckDB oracle) agree because md5 over the decimal string form of
    the key is engine-independent; bloom indexing is therefore
    supported for int/string keys (floats have no canonical string
    form across engines and are rejected at commit)."""
    s = f"blm{j}|{value}"
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % bits


def _bounds_comparable(bound, lo_rec, hi_rec) -> bool:
    """True when a caller bound and a file's recorded [min, max] live
    in the same totally-ordered domain: numeric-vs-numeric or
    str-vs-str. Any cross-type comparison keeps the file (prune only
    on proof) — the same-type check the stats contract requires."""
    num = (bool, int, float)
    if isinstance(bound, num):
        return isinstance(lo_rec, num) and isinstance(hi_rec, num)
    if isinstance(bound, str):
        return isinstance(lo_rec, str) and isinstance(hi_rec, str)
    return False


@dataclass
class _State:
    """The table at one version, from one replay of the checkpoint at
    or below it plus the log entries after it."""

    live: list[str]  # sorted
    schema: StructType | None  # None for an empty log
    stats: dict[str, dict]
    bloom: dict[str, dict]
    dv: dict[str, dict]
    txn: dict[str, int]


def _parse_listing(names: Iterable[str]) -> tuple[list[int], list[int]]:
    """(committed entry versions, checkpoint versions), both sorted,
    from the file names of one ``_txn`` listing."""
    entries: list[int] = []
    checkpoints: list[int] = []
    for name in names:
        if _ENTRY_RE.match(name):
            entries.append(int(name[:8]))
        elif _CHECKPOINT_RE.match(name):
            checkpoints.append(int(name[4:12]))
    return sorted(entries), sorted(checkpoints)


def read_plan(
    names: Iterable[str], version: int | None
) -> tuple[int | None, int]:
    """(checkpoint version at or below the read or None, version
    read) for a read at ``version`` (default: head), from one listing.
    Versions past the head clamp to it; an empty log reads -1."""
    entries, checkpoints = _parse_listing(names)
    head = entries[-1] if entries else -1
    if version is not None:
        head = min(version, head)
    base = max((c for c in checkpoints if c <= head), default=None)
    return base, head


def _fold(ck: dict, tail: list[dict]) -> _State:
    """A checkpoint document (``{}`` for none) plus the log entries
    after it, applied in order: the table's state at the last entry."""
    live: set[str] = set(ck.get("live", ()))
    stats: dict[str, dict] = dict(ck.get("stats", {}))
    bloom: dict[str, dict] = dict(ck.get("bloom", {}))
    dv: dict[str, dict] = dict(ck.get("dv", {}))
    txn: dict[str, int] = dict(ck.get("txn", {}))
    for e in tail:
        live.difference_update(e["remove"])
        live.update(e["add"])
        for rel in e["remove"]:
            stats.pop(rel, None)
            bloom.pop(rel, None)
            dv.pop(rel, None)
        est, ebl = e.get("stats", {}), e.get("bloom", {})
        for rel in e["add"]:
            stats[rel] = est.get(rel, {})
            if rel in ebl:
                bloom[rel] = ebl[rel]
            else:
                bloom.pop(rel, None)
        # a delete's per-file pointer REPLACES the file's previous
        # one (its sidecar carries the merged position set)
        dv.update(e.get("dv", {}))
        for app, v in e.get("txn", {}).items():
            if txn.get(app, -1) < v:
                txn[app] = v
    schema_json = tail[-1]["schema"] if tail else ck.get("schema")
    return _State(
        live=sorted(live),
        schema=(
            StructType.fromJson(json.loads(schema_json))
            if schema_json is not None
            else None
        ),
        stats=stats,
        bloom=bloom,
        dv=dv,
        txn=txn,
    )


def replay_log(
    names: Iterable[str],
    read: Callable[[str], dict],
    version: int | None,
) -> _State:
    """The table's state at ``version`` (default: head) from one
    ``_txn`` listing and ``read`` (a ``_txn`` file name → its parsed
    JSON): the latest checkpoint at or below the version, then only the
    entries after it — the O(tail) read path every reader shares."""
    base, head = read_plan(names, version)
    start = -1 if base is None else base
    return _fold(
        read(f"chk-{base:08d}.json") if base is not None else {},
        [read(f"{v:08d}.json") for v in range(start + 1, head + 1)],
    )


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of ``schema``, planned in the JVM as a scan of no
    files, so collecting it starts no Python worker. Columns read as
    nullable, as every snapshot's do."""
    return spark.read.schema(schema).parquet()


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the version-slot race
    ``_MAX_COMMIT_ATTEMPTS`` times in a row (pathological contention —
    each loss means some OTHER writer committed, so the table is
    making progress)."""


class ConcurrentModificationError(RuntimeError):
    """Raised when a snapshot-dependent commit (one carrying
    ``read_version``) finds the table head past its read version: the
    DataFrame being committed was computed from a snapshot another
    writer has since changed, so committing it would silently drop the
    interleaved commit (a lost update). The Delta OSS conflict-checker
    contract: the caller re-reads, recomputes, and retries — which is
    exactly what ``commit_merge``/``commit_compact`` do."""


class VersionedTable:
    """Handle on a transaction-logged parquet table rooted at ``root``
    — a local path or any Hadoop FileSystem URI (``file://``,
    ``hdfs://``, …); every metadata operation goes through the JVM
    Hadoop FS API, never ``os.*``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.log_dir = f"{self.root}/{_LOG_DIR}"
        jvm = spark._jvm
        self._jvm = jvm
        self._P = jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._P(self.log_dir).getFileSystem(self._conf)
        self._fs.mkdirs(self._P(self.log_dir))
        # FileContext is the API carrying the atomic no-overwrite
        # rename (FileSystem.rename has overwrite-prone local
        # semantics); Options.Rename is a varargs enum, passed as a
        # 1-element Java array.
        self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            self._P(self.log_dir).toUri(), self._conf
        )
        gw = spark.sparkContext._gateway
        self._rename_none = gw.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        self._rename_none[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
        # (version, live files) of the last replay: a committed version
        # never changes, so an overwrite computed from that replay's
        # snapshot takes its removes from here instead of replaying the
        # same head again (``commit``'s ``build``)
        self._replayed: tuple[int, tuple[str, ...]] | None = None

    # -- log plumbing --------------------------------------------------
    def _read_small(self, path: str) -> str:
        """Full contents of a small metadata file via the Hadoop FS."""
        stream = self._fs.open(self._P(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, 8192, True
        )
        return bytes(baos.toByteArray()).decode("utf-8")

    def _write_small(self, path: str, text: str) -> None:
        out = self._fs.create(self._P(path), True)
        out.write(bytearray(text.encode("utf-8")))
        out.close()

    def _list_log(self) -> list[str]:
        """File names in ``_txn`` from ONE listing — no content reads."""
        if not self._fs.exists(self._P(self.log_dir)):
            return []
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._P(self.log_dir))
        ]

    def _read_log(self, name: str) -> dict:
        """The parsed ``_txn`` file ``name``. The publish protocol makes
        partial files unobservable; a malformed one therefore means
        external corruption and raises loudly rather than silently
        truncating history."""
        path = f"{self.log_dir}/{name}"
        text = self._read_small(path)
        try:
            return json.loads(text)
        except ValueError as exc:
            raise ValueError(
                f"corrupt transaction-log entry {path!r} "
                f"({len(text)} bytes) — the rename-NONE publish "
                "protocol never produces partial entries, so this "
                "file was damaged outside the protocol"
            ) from exc

    def _publish(self, name: str, text: str) -> bool:
        """THE publish step: write ``text`` to a hidden temp, then
        rename it onto ``_txn/name`` with rename-NONE, which claims the
        name and makes the whole file visible in one atomic operation.
        True when this call won the name; False when it was taken (the
        temp is deleted)."""
        tmp = f"{self.log_dir}/.tmp-{uuid.uuid4().hex}"
        self._write_small(tmp, text)
        try:
            self._fc.rename(
                self._P(tmp),
                self._P(f"{self.log_dir}/{name}"),
                self._rename_none,
            )
            return True
        except Exception as exc:
            self._fs.delete(self._P(tmp), False)
            if "FileAlreadyExistsException" not in str(exc):
                raise
            return False

    # -- checkpoints -----------------------------------------------------
    def checkpoint(self, version: int | None = None) -> int:
        """Materialize the replayed state at ``version`` (default:
        head) into ``_txn/chk-NNNNNNNN.json`` — Delta's
        ``_last_checkpoint`` idea: readers start from the checkpoint's
        live set and replay only the entries AFTER it, so log reads
        are O(tail), not O(history). Published by ``_publish`` like
        entries (atomic, idempotent — a checkpoint that already exists
        is simply kept: checkpoints are pure functions of the immutable
        log prefix)."""
        v = self.current_version() if version is None else version
        if v < 0:
            raise ValueError("checkpoint of an empty log")
        name = f"chk-{v:08d}.json"
        if self._fs.exists(self._P(f"{self.log_dir}/{name}")):
            return v
        st = self._replay(v)
        state = {
            "version": v,
            "live": st.live,
            "schema": st.schema.json(),
            "stats": st.stats,
            "bloom": st.bloom,
            "dv": st.dv,
            "txn": st.txn,
        }
        self._publish(name, json.dumps(state))
        return v

    def _read_checkpoint(self, v: int) -> dict:
        return self._read_log(f"chk-{v:08d}.json")

    def replay_plan(self, version: int | None = None) -> tuple[int | None, int]:
        """(checkpoint version used, tail entries replayed) for a read
        at ``version`` — the observability hook q122 pins. None = full
        replay (no checkpoint at or below the requested version).
        Versions past the head clamp to it, as the read does."""
        base, head = read_plan(self._list_log(), version)
        return base, head - (base if base is not None else -1)

    def _tail_entries(self, after: int, through: int) -> list[dict]:
        """Entries for versions in (after, through] — reads exactly the
        tail's files, never the whole log."""
        return [
            self._read_log(f"{v:08d}.json")
            for v in range(after + 1, through + 1)
        ]

    def entries(self) -> list[dict]:
        """All committed log entries in version order."""
        return self._tail_entries(-1, self.current_version())

    def current_version(self) -> int:
        """Latest committed version, -1 for an empty table — resolved
        from the listing alone (no entry reads), so pollers tail the
        log cheaply."""
        return read_plan(self._list_log(), None)[1]

    # -- commit --------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        op: str | None = None,
        stats_cols: list[str] | None = None,
        read_version: int | None = None,
        bloom_col: str | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Commit ``df`` as the next version. ``mode``: ``append``
        adds files; ``overwrite`` adds files and removes every
        previously-live file (logically — bytes stay for time
        travel). Returns the committed version. The row count rides
        on the write itself (an observed metric), so a plain commit
        never re-reads the bytes it just wrote.

        Concurrency: losing a version-slot race re-reads the log and
        retries against the new head (optimistic, the Delta OSS
        protocol) — correct for commits whose content does not depend
        on the read state (append, blind overwrite: the retried
        commit serializes after the interleaved one). A commit whose
        DataFrame WAS computed from a snapshot passes that snapshot's
        version as ``read_version``; if the head is found past it —
        up front or via a lost slot race — the stale result is never
        committed and ``ConcurrentModificationError`` is raised
        instead (the Delta conflict-checker contract; the
        merge/compact wrappers catch it and recompute).

        ``stats_cols``: record per-file min/max of these columns in
        the log entry (the Delta/Iceberg file-statistics idea) —
        ``snapshot_pruned_ranges`` then skips files whose range cannot
        match a predicate without opening them. Only order-preserving
        types (int/float/bool/str) are recorded — see
        ``_stats_scalar``.

        ``bloom_col``: additionally build a per-file Bloom filter over
        this high-cardinality column (the Delta bloom-filter-index
        idea) — ``bloom_admitted_files`` then answers POINT lookups
        from the index alone, skipping files the filter proves cannot
        contain the key (min/max stats are useless for point probes on
        unclustered keys). Each file's filter is a SIDECAR file under
        ``_txn_index/`` (its set-bit positions, ≤ ``BLOOM_BITS`` ints);
        the log entry records only the pointer, so entries stay O(KB)
        however many rows a file holds. Positions are ``BLOOM_K``
        portable md5 hashes of the key's decimal string form —
        engine-independent, so the DuckDB oracle rebuilds the identical
        filter; int/string keys only (floats have no canonical string
        form and are rejected). The driver materializes only set-bit
        positions (bounded by ``BLOOM_BITS``), and at production scale
        the sidecar write moves into the writing job — same protocol,
        no driver bytes.

        Stats and bloom positions come from ONE aggregate over the
        just-written files, grouped by file (file-local, no shuffle
        wider than files × columns); a commit with neither pays none.

        ``txn_app``/``txn_version``: exactly-once transactional writes
        (Delta's ``txnAppId``/``txnVersion`` contract — the T7 face at
        the table-format level). The entry records the writer app's
        monotonically increasing version; a commit at or below the
        app's committed high-water mark is SKIPPED (idempotent
        replay — the foreachBatch retry case), checked both before any
        bytes are written and again under the slot-claim race, so two
        writers replaying the same (app, version) can never both
        land."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if (txn_app is None) != (txn_version is None):
            raise ValueError(
                "txn_app and txn_version must be passed together"
            )
        if txn_app is not None:
            # ``seen``: the version the app's high-water mark is
            # checked through
            names = self._list_log()
            seen = read_plan(names, None)[1]
            st = replay_log(names, self._read_log, None)
            if st.txn.get(txn_app, -1) >= txn_version:
                # already applied (a replayed micro-batch / retried
                # job): skip before writing any bytes — the idempotent
                # fast path
                return seen
        if bloom_col is not None:
            ftype = dict(df.dtypes).get(bloom_col)
            if ftype not in ("bigint", "int", "smallint", "tinyint",
                             "string"):
                raise ValueError(
                    f"bloom_col {bloom_col!r} has type {ftype!r}: bloom "
                    "indexing needs a canonical cross-engine string "
                    "form — int/string keys only"
                )
        commit_rel = f"{_DATA_DIR}/c-{uuid.uuid4().hex[:12]}"
        commit_dir = f"{self.root}/{commit_rel}"
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.mode("errorifexists")
            .parquet(commit_dir)
        )
        rows_added = int(obs.get["rows"])
        added = sorted(
            f"{commit_rel}/{name}"
            for st in self._fs.listStatus(self._P(commit_dir))
            if (name := st.getPath().getName()).endswith(".parquet")
        )
        stats: dict[str, dict[str, list]] = {}
        bloom: dict[str, dict] = {}
        if (stats_cols or bloom_col) and added:
            aggs = []
            for c in stats_cols or []:
                aggs += [
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                ]
            if bloom_col:
                from .text import portable_hash

                v = F.col(bloom_col).cast("string")
                positions = [
                    portable_hash(F.concat(F.lit(f"blm{j}|"), v), BLOOM_BITS)
                    for j in range(BLOOM_K)
                ]
                # the file's set bits: the union of each hash's positions
                aggs.append(
                    F.sort_array(
                        reduce(F.array_union, map(F.collect_set, positions))
                    ).alias("__bloom")
                )
            # file names are unique within the commit dir
            by_file = {
                r["__f"]: r
                for r in self._read(added, df.schema)
                .groupBy(F.col("_metadata.file_name").alias("__f"))
                .agg(*aggs)
                .collect()
            }
            for rel in added:
                row = by_file.get(rel.split("/")[-1])
                if row is None:
                    continue  # an empty file: no stats, never indexed
                # NULL min/max (all-NULL file) records as [None, None]
                # — kept unprunable downstream; a column whose type is
                # not order-preserving in JSON is dropped entirely
                # (never wrongly skippable).
                if stats_cols:
                    stats[rel] = {
                        c: [
                            _stats_scalar(row[f"min_{c}"]),
                            _stats_scalar(row[f"max_{c}"]),
                        ]
                        for c in stats_cols
                        if (
                            row[f"min_{c}"] is None
                            or _stats_scalar(row[f"min_{c}"]) is not None
                        )
                        and (
                            row[f"max_{c}"] is None
                            or _stats_scalar(row[f"max_{c}"]) is not None
                        )
                    }
                if bloom_col:
                    side_rel = (
                        f"{_INDEX_DIR}/blm-{uuid.uuid4().hex[:12]}.json"
                    )
                    self._write_small(
                        f"{self.root}/{side_rel}",
                        json.dumps(
                            {
                                "col": bloom_col,
                                "bits": BLOOM_BITS,
                                "k": BLOOM_K,
                                "positions": [int(p) for p in row["__bloom"]],
                            }
                        ),
                    )
                    bloom[rel] = {"col": bloom_col, "index": side_rel}
        schema_json = df.schema.json()

        def build(version: int) -> dict | None:
            nonlocal seen
            if txn_app is not None:
                # Transactional write (Delta's txnAppId/txnVersion
                # contract): re-check the app's high-water mark on the
                # entries committed since the last check, so two
                # writers replaying the same (app, version) can never
                # both land, whatever the interleaving.
                since = self._tail_entries(seen, version - 1)
                seen = version - 1
                if any(
                    e.get("txn", {}).get(txn_app, -1) >= txn_version
                    for e in since
                ):
                    return None
            return {
                "version": version,
                "op": op or mode,
                "schema": schema_json,
                "add": added,
                "remove": (
                    self._live_at_head(read_version)
                    if mode == "overwrite"
                    else []
                ),
                "rows_added": rows_added,
                "stats": stats,
                "bloom": bloom,
                "txn": (
                    {txn_app: txn_version} if txn_app is not None else {}
                ),
            }

        version = self._publish_entry(build, read_version)
        if version is not None:
            return version
        # a concurrent replay already applied it AFTER this call wrote
        # its files: reclaim the never-referenced bytes (no log entry
        # points at them, so vacuum would never find them)
        self._fs.delete(self._P(commit_dir), True)
        for meta in bloom.values():
            self._fs.delete(self._P(f"{self.root}/{meta['index']}"), False)
        return seen

    def last_txn_version(self, app: str) -> int:
        """Highest ``txn_version`` committed by ``app`` (-1 when the
        app never wrote) — pair with ``commit(txn_app=...,
        txn_version=...)`` for exactly-once sinks: a replayed
        micro-batch whose version is at or below this mark is skipped
        before any bytes are written. Checkpoint-based like
        ``file_stats``."""
        return self._replay(None).txn.get(app, -1)

    def _publish_entry(
        self, build, read_version: int | None = None
    ) -> int | None:
        """The slot-claim loop: resolve the next version, run
        ``build(version)`` to produce the entry (re-resolved per
        attempt, so state-dependent fields like overwrite removes and
        a transactional write's high-water re-check see the new head),
        publish it. ``build`` returns None when the commit is no longer
        needed (its transaction landed meanwhile); so does this. A
        transaction carrying ``read_version`` raises
        ``ConcurrentModificationError`` the moment the head is found
        past it — the stale result is never committed."""
        for _ in range(_MAX_COMMIT_ATTEMPTS):
            version = self.current_version() + 1
            if read_version is not None and version != read_version + 1:
                raise ConcurrentModificationError(
                    f"table {self.root!r} moved to version "
                    f"{version - 1} past this transaction's read "
                    f"version {read_version}: committing the "
                    "snapshot-derived result would drop the "
                    "interleaved commit (recompute and retry)"
                )
            entry = build(version)
            if entry is None:
                return None
            if self._publish(f"{version:08d}.json", json.dumps(entry)):
                return version
            # lost the slot to a concurrent writer: retry against the
            # new head (overwrite removes re-resolve there)
        raise CommitConflictError(
            f"lost the version-slot race {_MAX_COMMIT_ATTEMPTS} times "
            f"under {self.root!r} — pathological writer contention"
        )

    def _recompute(self, attempt: Callable[[int], int], what: str) -> int:
        """The read-recompute loop of every snapshot-dependent commit:
        run ``attempt(head)`` against the current head; when it raises
        ``ConcurrentModificationError`` (another commit landed first),
        run it again against the new head — never publishing a result
        computed from a stale snapshot."""
        for _ in range(_MAX_COMMIT_ATTEMPTS):
            try:
                return attempt(self.current_version())
            except ConcurrentModificationError:
                continue
        raise CommitConflictError(
            f"{what} under {self.root!r} lost the read-recompute race "
            f"{_MAX_COMMIT_ATTEMPTS} times — pathological contention"
        )

    def _live_at_head(self, read_version: int | None) -> list[str]:
        """The live set of the head an overwrite removes. A commit
        carrying ``read_version`` builds only while the head IS that
        version (``_publish_entry``), so when the snapshot it was
        computed from was the last replay, that replay's live set
        serves without listing or reading the log again."""
        replayed = self._replayed
        if read_version is not None and replayed is not None:
            version, live = replayed
            if version == read_version:
                return list(live)
        return self.live_files()

    # -- reads ---------------------------------------------------------
    def _replay(self, version: int | None) -> _State:
        """The table's state at ``version`` (default: head): one
        listing, then ``replay_log`` over the checkpoint and tail."""
        names = self._list_log()
        st = replay_log(names, self._read_log, version)
        self._replayed = (read_plan(names, version)[1], tuple(st.live))
        return st

    def live_files(self, version: int | None = None) -> list[str]:
        """Replay add/remove actions through ``version`` (default:
        head) → the live file set, sorted for determinism. Reads the
        latest checkpoint at-or-below the version plus only the tail
        entries after it."""
        return self._replay(version).live

    def _read(
        self,
        files: list[str],
        schema: StructType,
        dvs: dict[str, dict] | None = None,
    ) -> DataFrame:
        """A parquet scan of ``files`` (root-relative) with ``schema``,
        the one the log records: Spark plans it without opening a
        footer, so no inference job runs. Rows that ``dvs`` (file →
        deletion-vector pointer) mark dead are filtered out. No files
        read as an empty frame of ``schema``."""
        assert schema is not None, f"read of an empty log under {self.root!r}"
        if not files:
            return empty_frame(self.spark, schema)
        df = self.spark.read.schema(schema).parquet(
            *[f"{self.root}/{f}" for f in files]
        )
        dvs = dvs or {}
        return self._apply_dvs(df, {f: dvs[f] for f in files if f in dvs})

    def snapshot(
        self, version: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """The table AS OF ``version`` (default: latest) — a plain
        parquet scan of exactly the live files, with the logged schema,
        so pushdown and pruning behave like any parquet read and
        planning it runs no Spark job. ``merge_schema`` instead unions
        the live files' footer schemas (schema evolution: columns added
        by a later commit read as NULL on earlier files)."""
        st = self._replay(version)
        if merge_schema and st.live:
            return self._apply_dvs(
                self.spark.read.option("mergeSchema", "true").parquet(
                    *[f"{self.root}/{f}" for f in st.live]
                ),
                st.dv,
            )
        return self._read(st.live, st.schema, st.dv)

    def file_stats(self, version: int | None = None) -> dict[str, dict]:
        """Live-file → recorded column stats at ``version`` (files
        committed without ``stats_cols`` map to ``{}`` — unprunable).
        Checkpoint-based like ``live_files``."""
        return self._replay(version).stats

    @staticmethod
    def _dv_key_of(rel: str) -> str:
        """Join key identifying a data file across the log and the
        scan's ``_metadata.file_path``: the last two path segments
        (``c-<uuid>/part-*.parquet`` — the commit dir uuid makes it
        unique table-wide, and it is derivable from both sides without
        knowing how the filesystem renders the root)."""
        return "/".join(rel.split("/")[-2:])

    @staticmethod
    def _dv_key_col() -> Column:
        return F.array_join(
            F.slice(F.split(F.col("_metadata.file_path"), "/"), -2, 2),
            "/",
        )

    def file_dvs(self, version: int | None = None) -> dict[str, dict]:
        """Live-file → deletion-vector pointer (``{index, n}``) at
        ``version``. A delete commit's per-file entry REPLACES the
        file's previous pointer (the sidecar it points at carries the
        merged position set); a removed file drops its DV.
        Checkpoint-based like ``file_stats``."""
        return self._replay(version).dv

    def _apply_dvs(self, df: DataFrame, dvs: dict[str, dict]) -> DataFrame:
        """Filter out rows a deletion vector marks dead: one broadcast
        anti-join of the scan (keyed by file + row position, from the
        parquet reader's ``_metadata`` columns) against the DV position
        sets of ``dvs``. Those are a JSON scan of the sidecars with an
        explicit schema — planning reads nothing — each sidecar's name
        mapped to its data file's key by one literal map. A table
        without DVs pays nothing (the plan is untouched); with DVs the
        join side is deleted-rows-sized metadata, broadcast — never a
        shuffle of the data."""
        if not dvs:
            return df
        sidecar_key = F.create_map(
            *[
                F.lit(x)
                for rel, meta in dvs.items()
                for x in (meta["index"].split("/")[-1], self._dv_key_of(rel))
            ]
        )
        dv_df = (
            self.spark.read.schema("positions array<bigint>")
            .json([f"{self.root}/{meta['index']}" for meta in dvs.values()])
            .select(
                sidecar_key[F.col("_metadata.file_name")].alias("__dv_key"),
                F.explode("positions").alias("__dv_pos"),
            )
        )
        cols = df.columns
        return (
            df.withColumn("__dv_key", self._dv_key_col())
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
            .join(F.broadcast(dv_df), ["__dv_key", "__dv_pos"], "left_anti")
            .select(*cols)
        )

    def commit_delete_where(self, condition) -> int:
        """DELETE WHERE as a committed version WITHOUT rewriting data
        files — the Delta/Iceberg deletion-vector discipline: matching
        rows' (file, row position) pairs are recorded in per-file
        sidecars under ``_txn_index/`` and the entry carries only the
        pointers (``op='delete'``, no adds, no removes). Reads at or
        after this version anti-join the scan against the DV set
        (``_apply_dvs``); earlier versions still see the rows — time
        travel across the delete is free. A later ``commit_compact``
        materializes the delete (the rewrite drops the DVs), which is
        exactly Delta's OPTIMIZE-after-delete behavior.

        Snapshot-dependent like ``commit_merge``: positions are
        computed against the version the transaction read; if another
        commit lands first, the delete RECOMPUTES against the new head
        (the ConcurrentDeleteRead contract), never publishing stale
        positions. A second delete on an already-vectored file merges
        position sets (the sidecar is immutable; a new merged sidecar
        is published and the entry re-points — old sidecars stay for
        time travel until vacuum retires their versions).

        At 100 TB: deleting k rows from an n-row table costs one
        predicate scan plus k positions of metadata — not an n-row
        rewrite; the driver materializes only matching positions
        (bounded by the delete's selectivity; a production writer
        moves sidecar writes into the job, same protocol). CDC note:
        a DV commit adds no files, so the append-only CDC faces
        (read_incremental, the streaming source) see an empty batch —
        row-level deletes surface through ``row_diff``, which reads
        DV-filtered snapshots and classifies them as ``delete``."""
        cond = (
            F.expr(condition) if isinstance(condition, str) else condition
        )

        def attempt(base: int) -> int:
            st = self._replay(base)
            if not st.live:
                raise ValueError("delete from an empty table")
            hits = (
                self._read(st.live, st.schema)
                .withColumn("__dv_key", self._dv_key_col())
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
                .filter(cond)
                .groupBy("__dv_key")
                .agg(F.collect_list("__dv_pos").alias("ps"))
                .collect()
            )
            key2rel = {self._dv_key_of(rel): rel for rel in st.live}
            dv_map: dict[str, dict] = {}
            for r in hits:
                rel = key2rel.get(r["__dv_key"])
                if rel is None:  # pragma: no cover - key derivation bug
                    raise RuntimeError(
                        f"scan file key {r['__dv_key']!r} not in the "
                        f"live set of {self.root!r}"
                    )
                newps = {int(p) for p in r["ps"]}
                old = st.dv.get(rel)
                if old is not None:
                    oldside = json.loads(
                        self._read_small(f"{self.root}/{old['index']}")
                    )
                    newps |= {int(p) for p in oldside["positions"]}
                side_rel = f"{_INDEX_DIR}/dv-{uuid.uuid4().hex[:12]}.json"
                self._write_small(
                    f"{self.root}/{side_rel}",
                    json.dumps({"positions": sorted(newps)}),
                )
                dv_map[rel] = {"index": side_rel, "n": len(newps)}
            entry = {
                "op": "delete",
                "schema": st.schema.json(),
                "add": [],
                "remove": [],
                "rows_added": 0,
                "stats": {},
                "bloom": {},
                "dv": dv_map,
            }
            return self._publish_entry(
                lambda version: {"version": version, **entry},
                read_version=base,
            )

        return self._recompute(attempt, "delete")

    def bloom_admitted_files(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[str], int]:
        """(files whose bloom filter admits ``col = value``, total live
        files) — the point-lookup skipping decision. A file without a
        bloom for ``col`` is always admitted (skipping only on proof,
        the ``pruned_files_ranges`` contract); a file whose filter lacks any
        of the key's ``k`` bit positions provably does not contain the
        key and is skipped. False positives admit extra files — never
        wrong answers, the exact filter finishes inside the scan. Cost:
        one small sidecar read per bloom-indexed live file (index
        bytes, never data bytes)."""
        st = self._replay(version)
        return self._bloom_admitted(st, col, value), len(st.live)

    def _bloom_admitted(self, st: _State, col: str, value) -> list[str]:
        admitted: list[str] = []
        for rel in st.live:
            meta = st.bloom.get(rel)
            if meta is None or meta["col"] != col:
                admitted.append(rel)
                continue
            side = json.loads(
                self._read_small(f"{self.root}/{meta['index']}")
            )
            posset = set(side["positions"])
            probe = {
                _bloom_position(value, j, side["bits"])
                for j in range(side["k"])
            }
            if probe <= posset:
                admitted.append(rel)
        return admitted

    def snapshot_bloom(
        self, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Point-lookup snapshot read through the bloom index: scan
        ONLY the admitted files, then apply the exact equality (the
        filter is necessary, not sufficient — false positives are
        filtered inside the kept files). At scale this is the
        difference between opening every file of an unclustered table
        and opening the one file holding the key."""
        st = self._replay(version)
        files = self._bloom_admitted(st, col, value)
        return self._read(files, st.schema, st.dv).filter(
            F.col(col) == F.lit(value)
        )

    @staticmethod
    def _pruned(stats: dict[str, dict], bounds: dict[str, tuple]) -> list[str]:
        """Files of ``stats`` whose recorded [min, max] can intersect
        EVERY ``col: (lo, hi)`` bound, sorted. A file WITHOUT stats for
        a column, or whose stats do not share a total order with the
        bound (``_bounds_comparable``), is kept for that column:
        skipping is only legal when the log can prove non-overlap."""
        kept: list[str] = []
        for rel in sorted(stats):
            for col, (lo, hi) in bounds.items():
                rng = stats[rel].get(col)
                if rng is None or rng[0] is None or rng[1] is None:
                    continue
                fmin, fmax = rng
                if (
                    lo is not None
                    and _bounds_comparable(lo, fmin, fmax)
                    and fmax < lo
                ) or (
                    hi is not None
                    and _bounds_comparable(hi, fmin, fmax)
                    and fmin > hi
                ):
                    break
            else:
                kept.append(rel)
        return kept

    def pruned_files_ranges(
        self, bounds: dict[str, tuple], version: int | None = None
    ) -> tuple[list[str], int]:
        """Conjunctive multi-column skipping: (files whose recorded
        stats can intersect EVERY ``col: (lo, hi)`` bound, total live
        files) — the Delta/Iceberg data-skipping decision, made from
        log metadata alone (no file opened). A file skips when ANY
        column's range provably misses its bound (per-column necessary
        conditions intersect); ``lo``/``hi`` of None are unbounded
        ends. A file without stats for a column, or whose stats do not
        share a total order with the bound (numeric-vs-numeric,
        str-vs-str — ``_bounds_comparable``), is kept: skipping is only
        legal when the log can prove non-overlap (round-10 ADVICE)."""
        stats = self._replay(version).stats
        return self._pruned(stats, bounds), len(stats)

    def snapshot_pruned_ranges(
        self, bounds: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Range-predicate snapshot read through file skipping: scan
        ONLY the files ``pruned_files_ranges`` keeps, then apply every
        exact bound (stats prove necessity only; parquet row-group
        pushdown finishes inside the kept files). At scale this is the
        difference between touching the whole table and touching the
        matching files' bytes."""
        st = self._replay(version)
        df = self._read(self._pruned(st.stats, bounds), st.schema, st.dv)
        for col, (lo, hi) in bounds.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    def read_incremental(self, v0: int, v1: int) -> DataFrame:
        """Rows in files ADDED in versions (v0, v1] — the append-only
        CDC fast path (reads only the delta's bytes), with the schema
        at ``v1``. For commits that also removed files (rewrites), pair
        with ``row_diff``."""
        tail = self._tail_entries(v0, min(v1, self.current_version()))
        added = sorted(f for e in tail for f in e["add"])
        schema = (
            StructType.fromJson(json.loads(tail[-1]["schema"]))
            if tail
            else self._replay(v1).schema
        )
        return self._read(added, schema)

    def row_diff(
        self, v0: int, v1: int, keys: list[str]
    ) -> DataFrame:
        """Row-level CDC between two snapshots with unique ``keys``:
        one full-outer join keyed on ``keys`` classifying every key as
        insert / delete / update / unchanged (update = any non-key
        column differs; NULL-safe comparison). Output: key columns +
        ``change_type``. Diffing across a schema-evolution boundary
        works: both snapshots read merge-schema'd, value columns are
        the UNION of the two schemas, and a column absent from one
        side compares as NULL (so a row that gained a non-NULL value
        in the new column classifies as ``update``)."""
        a = self.snapshot(v0, merge_schema=True)
        b = self.snapshot(v1, merge_schema=True)
        val_cols = [c for c in b.columns if c not in keys]
        val_cols += [
            c for c in a.columns if c not in keys and c not in val_cols
        ]
        a_side = [
            (F.col(c) if c in a.columns else F.lit(None)).alias(f"a_{c}")
            for c in val_cols
        ]
        b_side = [
            (F.col(c) if c in b.columns else F.lit(None)).alias(f"b_{c}")
            for c in val_cols
        ]
        an = a.select(
            *[F.col(k).alias(f"k0_{k}") for k in keys], *a_side
        )
        bn = b.select(
            *[F.col(k).alias(f"k1_{k}") for k in keys], *b_side
        )
        cond = None
        for k in keys:
            c = F.col(f"k0_{k}") == F.col(f"k1_{k}")
            cond = c if cond is None else cond & c
        j = an.join(bn, cond, "full_outer")
        in_a = F.col(f"k0_{keys[0]}").isNotNull()
        in_b = F.col(f"k1_{keys[0]}").isNotNull()
        changed = None
        for c in val_cols:
            d = ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
            changed = d if changed is None else changed | d
        change = (
            F.when(~in_a, F.lit("insert"))
            .when(~in_b, F.lit("delete"))
            .when(changed if changed is not None else F.lit(False),
                  F.lit("update"))
            .otherwise(F.lit("unchanged"))
        )
        return j.select(
            *[
                F.coalesce(F.col(f"k0_{k}"), F.col(f"k1_{k}")).alias(k)
                for k in keys
            ],
            change.alias("change_type"),
        )

    def commit_merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched=None,
        insert_values=None,
        delete_condition=None,
    ) -> int:
        """MERGE as a committed version: the q81/K4 face
        (``ledger.merge_upsert`` — one full-outer shuffle, all clauses
        as projections) applied to the current snapshot and committed
        as an overwrite with ``op='merge'``. Under a production table
        format this is ``DeltaTable.merge``.

        Snapshot isolation under concurrent writers (round-10 verdict
        #1): the merge records the version it READ; if another commit
        lands between that read and the slot claim, the stale merged
        result is never committed — the transaction RECOMPUTES the
        merge against the new head and retries (bounded attempts), so
        an append racing this merge is merged in, never silently
        clobbered. Single-writer behavior is unchanged."""
        from .ledger import merge_upsert

        def attempt(base: int) -> int:
            merged = merge_upsert(
                self.snapshot(base),
                source,
                keys,
                when_matched=when_matched,
                insert_values=insert_values,
                delete_condition=delete_condition,
            )
            return self.commit(
                merged, mode="overwrite", op="merge", read_version=base
            )

        return self._recompute(attempt, "merge")

    def commit_compact(self, target_files: int = 1) -> int:
        """OPTIMIZE as a committed version: rewrite the current live
        file set into ``target_files`` files (``op='compact'``) —
        row-identical by construction, so ``row_diff`` across the
        commit is empty while small-file scan overhead drops, and
        pre-compaction versions stay readable until vacuum.
        Snapshot-dependent like ``commit_merge``: a concurrent commit
        between the snapshot read and the slot claim triggers a
        recompute against the new head, never a stale rewrite."""
        return self._recompute(
            lambda base: self.commit(
                self.snapshot(base).repartition(target_files),
                mode="overwrite",
                op="compact",
                read_version=base,
            ),
            "compact",
        )

    def history(self) -> list[dict]:
        """Commit metadata: version, op, files added/removed, rows."""
        return [
            {
                "version": e["version"],
                "op": e["op"],
                "n_added": len(e["add"]),
                "n_removed": len(e["remove"]),
                "rows_added": e["rows_added"],
            }
            for e in self.entries()
        ]

    def vacuum(
        self, retain_versions: int = 1, min_age_ms: int = 0
    ) -> list[str]:
        """Delete data files not live in any of the last
        ``retain_versions`` versions. Returns the deleted relative
        paths. A time-travel read below the retention floor
        subsequently fails at scan time (the file list references
        deleted paths) rather than returning partial data — pinned by
        the vacuum-safety property test.

        Two further retention floors (round-10 verdict #7):

        - **Age**: nothing younger than ``min_age_ms`` is deleted
          (modification time from the Hadoop FS), so an in-flight
          reader that resolved a file list before the vacuum gets a
          full grace window to finish its scan. The sandbox default is
          0 (tests stage and vacuum in one process); a production
          deployment sets hours-to-days, exactly Delta's
          ``deletedFileRetentionDuration``.
        - **Checkpoints**: files referenced by the LATEST checkpoint's
          live set are never deleted while that checkpoint is not
          superseded by a newer one — the checkpoint must stay a valid
          read basis (readers start from it), whatever the version
          retention says.
        """
        # DV sidecars follow VERSION retention (not file lifetime): a
        # superseded sidecar is still the read basis of older
        # versions, so it is deletable only once no retained version
        # (nor the latest checkpoint) references it — the same floor
        # data files get.
        head = self.current_version()
        keep: set[str] = set()
        for v in range(max(0, head - retain_versions + 1), head + 1):
            st = self._replay(v)
            keep.update(st.live)
            keep.update(m["index"] for m in st.dv.values())
        cks = _parse_listing(self._list_log())[1]
        if cks:
            ck = self._read_checkpoint(cks[-1])
            keep.update(ck["live"])
            keep.update(m["index"] for m in ck.get("dv", {}).values())
        # every data file and DV sidecar any entry names, and the bloom
        # sidecar that serves exactly one data file and dies with it
        written: set[str] = set()
        bloom_index: dict[str, str] = {}
        for e in self.entries():
            written.update(e["add"])
            written.update(m["index"] for m in e.get("dv", {}).values())
            for rel, meta in e.get("bloom", {}).items():
                bloom_index[rel] = meta["index"]
        now_ms = self._jvm.java.lang.System.currentTimeMillis()
        deleted = []
        for rel in sorted(written - keep):
            p = self._P(f"{self.root}/{rel}")
            if not self._fs.exists(p):
                continue
            if (
                min_age_ms > 0
                and now_ms - self._fs.getFileStatus(p).getModificationTime()
                < min_age_ms
            ):
                continue  # inside the in-flight-reader grace window
            self._fs.delete(p, False)
            deleted.append(rel)
            side = bloom_index.get(rel)
            if side is not None:
                self._fs.delete(self._P(f"{self.root}/{side}"), False)
                deleted.append(side)
        return deleted
