"""Substrate-store version GC: superseded artifact tables are pruned
keep-latest-N per (family, dataset basename) behind a grace window —
the active table and other datasets' tables are never touched, young
entries get a grace window, foreign names are left alone."""

from __future__ import annotations

import os
import time

import pytest

from kaggle_data_pipeline_with_aws_spark.operators import (
    substrate_store,
    text_substrate,
)
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = str(tmp_path / "substrate")
    monkeypatch.setenv("SPARK_GRAFT_SUBSTRATE_ROOT", root)
    return root


def _publish(spark, fam_dir: str, name: str, age_sec: float = 0.0) -> str:
    """Drop a fake published table (a one-entry log) and optionally
    back-date its mtime."""
    path = os.path.join(fam_dir, name)
    os.makedirs(os.path.join(path, "_txn"))
    with open(os.path.join(path, "_txn", "00000000.json"), "w") as f:
        f.write("{}")
    if age_sec:
        old = time.time() - age_sec
        os.utime(path, (old, old))
    return path


def test_artifact_group_parsing():
    g = substrate_store._artifact_group
    assert g("v2-sf0.001-0123456789") == "sf0.001"
    assert g("v2-my-data-set-abcdef0123") == "my-data-set"
    assert g("v2-sf0.001-NOTHEX9876") is None  # token not lowercase hex
    assert g("v2-short") is None  # too few segments
    assert g("no_dashes") is None


def test_prune_keeps_newest_and_active(spark, store_root):
    fam = os.path.join(store_root, "fam")
    os.makedirs(fam)
    # four superseded versions of the same dataset, oldest first, all
    # past the grace window; plus the active artifact (also old)
    olds = [
        _publish(spark, fam, f"v{i}-sf0.001-{i:010d}"[:30], age_sec=7200 + i)
        for i in range(1, 5)
    ]
    active = _publish(spark, fam, "v9-sf0.001-9999999999", age_sec=7200)
    deleted = substrate_store.prune_superseded(
        spark, "fam", keep=2, active_path=active, min_age_ms=3_600_000
    )
    # active survives whatever its age; the active slot counts against
    # the group budget, so exactly keep-1 = 1 superseded remains (the
    # newest one, i.e. smallest age)
    assert os.path.exists(active)
    survivors = sorted(os.listdir(fam))
    assert os.path.basename(active) in survivors
    assert len(survivors) == 2
    assert sorted(deleted) == sorted(
        p for p in olds if os.path.basename(p) not in survivors
    )
    # the newest superseded one is the survivor
    assert os.path.basename(olds[0]) in survivors


def test_prune_grace_window_spares_young_entries(spark, store_root):
    fam = os.path.join(store_root, "fam")
    os.makedirs(fam)
    young = _publish(spark, fam, "v1-sf0.001-1111111111")  # mtime = now
    old = _publish(spark, fam, "v0-sf0.001-0000000000", age_sec=7200)
    active = _publish(spark, fam, "v2-sf0.001-2222222222", age_sec=7200)
    deleted = substrate_store.prune_superseded(
        spark, "fam", keep=1, active_path=active, min_age_ms=3_600_000
    )
    assert os.path.exists(young), "grace window violated"
    assert not os.path.exists(old)
    assert deleted == [old]


def test_prune_groups_by_dataset_basename(spark, store_root):
    """Artifacts for DIFFERENT datasets never count against each
    other's keep budget — sf0.001/sf0.01 side by side both survive."""
    fam = os.path.join(store_root, "fam")
    os.makedirs(fam)
    a = _publish(spark, fam, "v1-sf0.001-aaaaaaaaaa", age_sec=7200)
    b = _publish(spark, fam, "v1-sf0.01-bbbbbbbbbb", age_sec=7200)
    active = _publish(spark, fam, "v2-sf0.001-cccccccccc", age_sec=7200)
    substrate_store.prune_superseded(
        spark, "fam", keep=1, active_path=active, min_age_ms=0
    )
    assert os.path.exists(b), "other dataset's artifact was collected"
    assert os.path.exists(active)
    assert not os.path.exists(a)  # same group as active, over budget


def test_prune_leaves_foreign_names_alone(spark, store_root):
    fam = os.path.join(store_root, "fam")
    os.makedirs(fam)
    foreign = _publish(spark, fam, "some_other_layout", age_sec=7200)
    substrate_store.prune_superseded(spark, "fam", keep=1, min_age_ms=0)
    assert os.path.exists(foreign)


def test_prune_missing_family_is_noop(spark, store_root):
    assert substrate_store.prune_superseded(spark, "nope", keep=1) == []


def test_materialize_once_prunes_superseded_versions(spark, store_root):
    """End-to-end: a superseded (older-version) artifact of the same
    dataset past the grace window is collected by the next publish;
    the served rows are unaffected."""
    fam_dir = os.path.join(store_root, "ranked_shingles")
    os.makedirs(fam_dir)
    stale = _publish(
        spark, fam_dir, "v0-sf0.001-0123456789", age_sec=30 * 24 * 3600
    )
    n = text_substrate.ranked_shingles(spark, SF).count()
    assert n > 0
    assert not os.path.exists(stale), "superseded version not collected"
    current = substrate_store.artifact_path(
        spark, "ranked_shingles", text_substrate._SHINGLE_VERSION, SF
    )
    assert VersionedTable(spark, current).current_version() == 0


def test_prune_never_deletes_active_even_when_over_budget(spark, store_root):
    fam = os.path.join(store_root, "fam")
    os.makedirs(fam)
    active = _publish(spark, fam, "v1-sf0.001-aaaaaaaaaa", age_sec=9e6)
    substrate_store.prune_superseded(
        spark, "fam", keep=0, active_path=active, min_age_ms=0
    )
    assert os.path.exists(active)
