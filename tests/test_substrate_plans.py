"""Regression tests for the materialize-once mutual-kNN substrate
(round 5): every graph consumer must source its edges from the shared
knn_edges parquet artifact — none may regress to re-deriving the edge
list from the embedding table (the ~90 s-per-query-at-10× shape the
substrate removed)."""

from __future__ import annotations

import pytest

from kaggle_data_pipeline_with_aws_spark.operators import knn_substrate, similarity
from kaggle_data_pipeline_with_aws_spark.plans.registry import QUERIES, load_all

load_all()

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name", ["d62_knn_graph", "d63_knn_triangles", "d64_label_vote"]
)
def test_graph_consumer_plan_scans_the_artifact(spark, name):
    """Executed plan starts at the materialized edge table and never
    re-runs the IVF pipeline. (d64 still scans embeddings for labels —
    allowed; what must not reappear are the IVF assignment stage's
    centroid-score columns or a cartesian centroid join.)"""
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "knn_edges" in plan, f"{name} does not scan the substrate"
    for marker in ("__cscore", "__crank", "CartesianProduct"):
        assert marker not in plan, f"{name} re-derives the kNN edges ({marker})"


@pytest.fixture(scope="module")
def built_substrate(spark):
    knn_substrate.mutual_knn_edges(spark, SF)


@pytest.mark.parametrize(
    "query,module",
    [
        ("d122_kcore_peel", "plans.wave22"),
        ("d132_bfs_hops", "plans.wave30"),
    ],
)
def test_checkpointing_consumers_source_from_the_substrate(
    spark, built_substrate, monkeypatch, query, module
):
    """d122/d132 eagerly localCheckpoint their edges, so the executed
    plan can't show the lineage; check behaviour instead: with the
    substrate built and the IVF kernel disabled, each query still
    collects and reads its edges through the substrate reader."""
    assert QUERIES[query].__module__.endswith(module)

    def no_ivf(*args, **kwargs):
        raise AssertionError(f"{query} re-derives the kNN edges")

    calls = []
    reader = knn_substrate.mutual_knn_edges

    def spy(*args, **kwargs):
        calls.append(args)
        return reader(*args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_topk_fixed_centroids_grouped", no_ivf)
    monkeypatch.setattr(knn_substrate, "mutual_knn_edges", spy)
    QUERIES[query](spark, SF).collect()
    assert calls, f"{query} does not read the substrate"
