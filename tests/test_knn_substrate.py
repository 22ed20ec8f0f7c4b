"""Materialize-once semantics of the mutual-kNN edge substrate
(operators/knn_substrate.py) — the round-5 fix for the cross-query
recomputation flagged by the round-4 verdict (d62/d63/d64/d122/d132
each re-derived the same deterministic edge list)."""

from __future__ import annotations

import os
import shutil

from kaggle_data_pipeline_with_aws_spark.operators import (
    knn_substrate,
    substrate_store,
)
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
from kaggle_data_pipeline_with_aws_spark.plans import registry
from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

registry.load_all()
SF = "/root/testdata/sf0.001"


def _edges_path(spark, sf: str = SF) -> str:
    return substrate_store.artifact_path(
        spark, "knn_edges", knn_substrate._VERSION, sf
    )


def _fresh_artifact(spark):
    path = _edges_path(spark)
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_substrate_matches_direct_plan(spark):
    """Parquet round-trip is value-exact vs the builder plan."""
    _fresh_artifact(spark)
    embs = load_table(spark, SF, "embeddings")
    direct = {
        (r["node_a"], r["node_b"], r["cos_sim"])
        for r in knn_substrate.build_edges_plan(embs).collect()
    }
    served = {
        (r["node_a"], r["node_b"], r["cos_sim"])
        for r in knn_substrate.mutual_knn_edges(spark, SF).collect()
    }
    assert direct == served
    assert served, "edge substrate unexpectedly empty"


def test_substrate_builds_once(spark):
    """Later calls read the published table — no second commit."""
    path = _fresh_artifact(spark)
    knn_substrate.mutual_knn_edges(spark, SF).count()
    table = VersionedTable(spark, path)
    assert table.current_version() == 0
    knn_substrate.mutual_knn_edges(spark, SF).count()
    assert table.current_version() == 0
    assert len(os.listdir(os.path.join(path, "data"))) == 1


def test_substrate_artifact_is_version_and_dataset_keyed(spark):
    p1 = _edges_path(spark, SF)
    p2 = _edges_path(spark, os.path.join(os.path.dirname(SF), "sf0.01"))
    assert p1 != p2
    assert knn_substrate._VERSION in os.path.basename(p1)


def test_corrupt_artifact_is_rebuilt(spark):
    """A directory with no committed log entry (a builder that died
    before its commit) is an empty table: the next call publishes."""
    path = _fresh_artifact(spark)
    os.makedirs(path)
    assert knn_substrate.mutual_knn_edges(spark, SF).count() > 0
    assert VersionedTable(spark, path).current_version() == 0
