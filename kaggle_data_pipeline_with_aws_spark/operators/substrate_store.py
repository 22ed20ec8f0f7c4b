"""Generic materialize-once substrate store (build once, read many).

Every expensive, deterministic, multiply-consumed intermediate — kNN
edges, the ranked shingle table, MinHash signatures, LSH components,
the domain map — is a ``VersionedTable`` (``operators/txnlog.py``) at
a content-addressed path, published by that table's first commit:

- **Configurable root** (the cluster deployment story): artifacts live
  under ``$SPARK_GRAFT_SUBSTRATE_ROOT`` (default
  ``<repo>/spark-warehouse``). Any Hadoop-FileSystem URI works — a
  plain local path, ``file:///…``, ``hdfs://…`` — because listing,
  commit and cleanup all go through the JVM Hadoop ``FileSystem`` API.
- **Content addressing**: path = ``root/family/version-dataset-token``
  where token hashes the absolute dataset location PLUS a listing
  fingerprint of the dataset's files (name, length, modification
  time) — so regenerating a dataset IN PLACE changes the token and the
  old artifact becomes unreachable instead of silently serving stale
  results. ``version`` is baked in by each family and bumped whenever
  the builder plan changes. Two builders on DIFFERENT datasets resolve
  to different paths and can never cross-contaminate.
- **Publication** is the transaction log's atomic commit, tagged
  with one fixed ``(txn_app, txn_version)`` pair: the loser of a
  concurrent same-path race skips its commit and reads the winner's
  rows (byte-equivalent, because builders are deterministic plans). A
  builder that died before committing left only data files that no log
  entry references, which readers never see.
- **Version GC**: after a publish, superseded tables — older tokens
  after an in-place dataset regeneration, older versions after a
  builder-plan bump — are deleted keep-latest-N per (family, dataset
  basename) behind a grace window. See ``prune_superseded``.

A root that cannot hold the table raises: there is no silent fallback
to an uncached plan.

Reference scope: the reference pipeline (five pandas/boto3 Lambdas) has
no shared-intermediate store; this is part of the beyond-reference
LLM-data-curation surface, and the warehouse pattern any 100 TB
deployment would use (run the builder as a writer job; point every
consumer at the published table).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .txnlog import VersionedTable

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Writer id of every substrate commit. Committed at txn_version 0, it
# makes a table's first commit its only one.
_TXN_APP = "substrate_store"


def store_root() -> str:
    """Artifact store root — any Hadoop-FS URI. Resolved per call (not
    at import) so tests and deployments can repoint it with an env
    var without re-importing the package."""
    return os.environ.get(
        "SPARK_GRAFT_SUBSTRATE_ROOT",
        os.path.join(_REPO_ROOT, "spark-warehouse"),
    )


def _fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _family_dir(family: str) -> str:
    return f"{store_root().rstrip('/')}/{family}"


def _dataset_fingerprint(spark: SparkSession, sf_abs: str) -> str:
    """Listing metadata digest of the dataset directory: sorted
    (name, length, mtime) of its entries. Catches in-place
    regeneration (new files or rewritten files shift length/mtime)
    without reading any data."""
    fs, jvm = _fs(spark, sf_abs)
    entries = sorted(
        (
            st.getPath().getName(),
            int(st.getLen()),
            int(st.getModificationTime()),
        )
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(sf_abs))
    )
    return hashlib.md5(repr(entries).encode("utf-8")).hexdigest()[:10]


def artifact_path(
    spark: SparkSession, family: str, version: str, sf_dir: str
) -> str:
    """``root/family/version-dataset-token`` — content-addressed by
    dataset location + listing fingerprint, version-keyed by
    builder-plan version."""
    sf_abs = (
        sf_dir.rstrip("/") if "://" in sf_dir else os.path.abspath(sf_dir)
    )
    fprint = _dataset_fingerprint(spark, sf_abs)
    token = hashlib.md5(f"{sf_abs}|{fprint}".encode("utf-8")).hexdigest()[:10]
    name = f"{version}-{os.path.basename(sf_abs)}-{token}"
    return f"{_family_dir(family)}/{name}"


_HEX = frozenset("0123456789abcdef")


def _artifact_group(name: str) -> str | None:
    """Dataset-basename group of an artifact directory name
    (``{version}-{basename}-{token}``): the middle segment, i.e. the
    dataset directory's basename. Returns None when the name doesn't
    parse as this store's layout — such entries are never pruned
    (don't delete what we don't own)."""
    parts = name.split("-")
    if len(parts) < 3:
        return None
    token = parts[-1]
    if len(token) != 10 or not set(token) <= _HEX:
        return None
    return "-".join(parts[1:-1])


def prune_superseded(
    spark: SparkSession,
    family: str,
    keep: int = 1,
    active_path: str | None = None,
    min_age_ms: int = 3_600_000,
) -> list[str]:
    """Delete superseded artifact tables under ``root/family``: without
    this, every dataset regeneration or builder-version bump would
    orphan a content-addressed table forever.

    Keeps, per dataset-basename group, the ``keep`` most recently
    modified tables and deletes the rest. A superseded token/version is
    unreachable by construction (consumers re-resolve the current token
    on every call), so the default ``keep=1`` retains only the current
    table per dataset. Grouping by the dataset basename keeps
    differently-named datasets — sf0.001 / sf0.01 / sf0.1 side by side —
    out of each other's budget; two distinct datasets sharing a
    basename at worst evict each other's cache entry, which rebuilds on
    next use.

    Never deleted, whatever their age:

    - the ``active_path`` just published (it occupies one of its
      group's ``keep`` slots);
    - names that don't parse as this store's layout.

    Nothing younger than ``min_age_ms`` is deleted either, so a reader
    that resolved a now-superseded path gets a grace window to finish
    its scan. Returns the deleted paths.
    """
    fam = _family_dir(family)
    fs, jvm = _fs(spark, fam)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(fam)):
        return []
    now = int(jvm.java.lang.System.currentTimeMillis())
    active = active_path.rstrip("/") if active_path else None
    groups: dict[str, list[tuple[int, str]]] = {}
    for st in fs.listStatus(P(fam)):
        name = st.getPath().getName()
        full = f"{fam}/{name}"
        group = _artifact_group(name)
        mtime = int(st.getModificationTime())
        if full == active or group is None or now - mtime < min_age_ms:
            continue
        groups.setdefault(group, []).append((mtime, full))
    active_group = (
        _artifact_group(os.path.basename(active)) if active else None
    )
    deleted: list[str] = []
    for group, entries in groups.items():
        entries.sort(reverse=True)  # newest first
        budget = max(keep - (1 if group == active_group else 0), 0)
        for _mtime, full in entries[budget:]:
            if fs.delete(P(full), True):
                deleted.append(full)
    return deleted


def materialize_once(
    spark: SparkSession,
    family: str,
    version: str,
    sf_dir: str,
    plan_fn: Callable[[], DataFrame],
) -> DataFrame:
    """The substrate contract: return ``plan_fn()``'s result as a scan
    of the published table, committing it on first use. ``plan_fn`` is
    called only while the table is empty (some builders run eager
    fixpoints). Parquet round-trips the long/double/string columns
    these artifacts carry bit-exactly, so consumers' results equal the
    direct plan's."""
    path = artifact_path(spark, family, version, sf_dir)
    table = VersionedTable(spark, path)
    if table.current_version() == -1:
        table.commit(plan_fn(), txn_app=_TXN_APP, txn_version=0)
        prune_superseded(spark, family, active_path=path)
    return table.snapshot()
