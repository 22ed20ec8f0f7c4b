"""Shared shingle/MinHash-signature substrate plus the generic store's
cluster-shape guarantees: configurable root URI, cross-dataset
isolation, concurrent-builder race, uncommitted-writer invisibility,
and an unusable root raising instead of falling back."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from py4j.protocol import Py4JJavaError

from kaggle_data_pipeline_with_aws_spark.operators import (
    dedup,
    substrate_store,
    text_substrate,
)
from kaggle_data_pipeline_with_aws_spark.operators.txnlog import VersionedTable
from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = str(tmp_path / "substrate")
    monkeypatch.setenv("SPARK_GRAFT_SUBSTRATE_ROOT", root)
    return root


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _shingles_path(spark, sf: str) -> str:
    return substrate_store.artifact_path(
        spark, "ranked_shingles", text_substrate._SHINGLE_VERSION, sf
    )


def _commit_dirs(path: str) -> list[str]:
    return os.listdir(os.path.join(path, "data"))


# ---------------------------------------------------------------------------
# Equivalence: substrate-fed consumers == the standalone dedup plans
# ---------------------------------------------------------------------------
def test_jaccard_pairs_match_standalone(spark, store_root):
    docs = load_table(spark, SF, "documents")
    for t in (0.8, 0.7):  # d06's and d126's thresholds, ONE artifact
        want = _rows(dedup.ngram_jaccard_pairs(docs, threshold=t))
        got = _rows(text_substrate.jaccard_pairs(spark, SF, threshold=t))
        assert got == want and got, f"threshold {t}"
    # both thresholds were served by a single ranked-shingle artifact
    fam_dir = os.path.join(store_root, "ranked_shingles")
    assert len(os.listdir(fam_dir)) == 1


def test_containment_pairs_match_standalone(spark, store_root):
    docs = load_table(spark, SF, "documents")
    want = _rows(dedup.shingle_containment_pairs(docs, threshold=0.9))
    got = _rows(text_substrate.containment_pairs(spark, SF, threshold=0.9))
    assert got == want and got


def test_lsh_pairs_match_standalone(spark, store_root):
    docs = load_table(spark, SF, "documents")
    want = _rows(dedup.minhash_lsh_pairs(docs, threshold=0.5, portable=True))
    got = _rows(text_substrate.lsh_pairs(spark, SF, threshold=0.5))
    assert got == want and got


def test_consumer_plan_reads_artifact_not_window(spark, store_root):
    """Once published, a consumer's executed plan starts at the
    artifact scan: no rank Window, no shingle explode (Generate), no
    per-query re-derivation."""
    text_substrate.ranked_shingles(spark, SF).count()  # publish
    # the substrate reader itself is a bare parquet scan of the artifact
    rdf = text_substrate.ranked_shingles(spark, SF)
    rplan = rdf._jdf.queryExecution().executedPlan().toString()
    # the scan Location is elided in toString; the rk column exists
    # ONLY in the published artifact, so its presence in the parquet
    # ReadSchema proves the read is artifact-backed
    assert "FileScan parquet" in rplan and "rk:int" in rplan
    assert "Window" not in rplan
    df = text_substrate.jaccard_pairs(spark, SF, threshold=0.8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # plan toString elides long scan locations, so assert shape: the
    # rank Window and the shingle explode (Generate) were paid at
    # build time and must not reappear in any consumer plan
    assert "Window" not in plan
    assert "Generate" not in plan
    sdf = text_substrate.lsh_pairs(spark, SF, threshold=0.5)
    splan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in splan  # signature UDF paid at build
    assert "Generate" in splan  # the band-key explode (8 keys/doc) stays


# ---------------------------------------------------------------------------
# Store contract (generic, directive #6)
# ---------------------------------------------------------------------------
def test_store_root_env_var_and_file_uri(spark, tmp_path, monkeypatch):
    """The root is any Hadoop-FS URI: a plain path and an explicit
    file:// URI both publish and serve."""
    plain = str(tmp_path / "plain_root")
    monkeypatch.setenv("SPARK_GRAFT_SUBSTRATE_ROOT", plain)
    n1 = text_substrate.ranked_shingles(spark, SF).count()
    table = VersionedTable(spark, _shingles_path(spark, SF))
    assert table.current_version() == 0

    uri = "file://" + str(tmp_path / "uri_root")
    monkeypatch.setenv("SPARK_GRAFT_SUBSTRATE_ROOT", uri)
    path = _shingles_path(spark, SF)
    assert path.startswith("file://")
    n2 = text_substrate.ranked_shingles(spark, SF).count()
    assert n1 == n2 > 0
    assert VersionedTable(spark, path).current_version() == 0
    assert os.path.exists(
        os.path.join(str(tmp_path / "uri_root"), "ranked_shingles")
    )


def test_concurrent_builders_different_datasets_never_cross(
    spark, store_root, tmp_path
):
    """Two builders racing on DIFFERENT datasets resolve to different
    content-addressed paths; each artifact holds exactly its own
    dataset's rows."""
    # second dataset = a copy of sf0.001's documents at another path
    other = tmp_path / "other_sf"
    other.mkdir()
    shutil.copy(
        os.path.join(SF, "documents.parquet"),
        str(other / "documents.parquet"),
    )
    p1 = _shingles_path(spark, SF)
    p2 = _shingles_path(spark, str(other))
    assert p1 != p2

    results: dict[str, int] = {}
    errs: list[Exception] = []

    def build(name, sf):
        try:
            results[name] = text_substrate.ranked_shingles(spark, sf).count()
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    t1 = threading.Thread(target=build, args=("a", SF))
    t2 = threading.Thread(target=build, args=("b", str(other)))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs
    assert results["a"] == results["b"] > 0  # same bytes, two artifacts
    for p in (p1, p2):
        assert VersionedTable(spark, p).current_version() == 0
        assert len(_commit_dirs(p)) == 1
    fam = os.path.join(store_root, "ranked_shingles")
    assert sorted(os.listdir(fam)) == sorted(
        [os.path.basename(p1), os.path.basename(p2)]
    ), "cross-contaminated entries in the store"


def test_concurrent_builders_same_dataset_one_winner(spark, store_root):
    """Two racing builders for the SAME artifact: both serve identical
    results, and the table holds exactly one committed version backed
    by one commit directory (the loser skips its commit and reclaims
    its files)."""
    results: list[int] = []
    errs: list[Exception] = []

    def build():
        try:
            results.append(text_substrate.ranked_shingles(spark, SF).count())
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=build) for _ in range(2)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errs
    assert len(set(results)) == 1 and results[0] > 0
    fam = os.path.join(store_root, "ranked_shingles")
    assert len(os.listdir(fam)) == 1
    path = _shingles_path(spark, SF)
    assert VersionedTable(spark, path).current_version() == 0
    assert len(_commit_dirs(path)) == 1


def test_in_place_dataset_regeneration_changes_the_artifact(
    spark, store_root, tmp_path
):
    """Regenerating a dataset AT THE SAME PATH must not serve the old
    artifact: the token hashes the dataset's listing fingerprint
    (name/size/mtime), so the rewritten dataset resolves to a new
    artifact path and rebuilds."""
    import pyarrow.parquet as pq

    ds = tmp_path / "regen_sf"
    ds.mkdir()
    target = str(ds / "documents.parquet")
    shutil.copy(os.path.join(SF, "documents.parquet"), target)
    p1 = _shingles_path(spark, str(ds))
    n1 = text_substrate.ranked_shingles(spark, str(ds)).count()
    assert VersionedTable(spark, p1).current_version() == 0 and n1 > 0

    # regenerate in place: half the corpus, same file name
    tbl = pq.read_table(target)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), target)

    p2 = _shingles_path(spark, str(ds))
    assert p2 != p1, "regenerated dataset resolved to the stale artifact"
    n2 = text_substrate.ranked_shingles(spark, str(ds)).count()
    assert 0 < n2 < n1  # rebuilt from the smaller corpus
    assert VersionedTable(spark, p2).current_version() == 0


def test_crashed_writer_is_rebuilt(spark, store_root):
    """A builder that died after writing data files but before its log
    entry left nothing a reader can see: the next call publishes."""
    path = _shingles_path(spark, SF)
    junk = os.path.join(path, "data", "c-crashed")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    docs = load_table(spark, SF, "documents")
    want = text_substrate.ranked_shingles_plan(docs).count()
    assert text_substrate.ranked_shingles(spark, SF).count() == want > 0
    assert VersionedTable(spark, path).current_version() == 0


def test_unusable_store_raises(spark, monkeypatch, tmp_path):
    """Root under a regular FILE: the table cannot be created, and the
    consumer fails loudly instead of serving an uncached plan."""
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("file, not dir")
    monkeypatch.setenv(
        "SPARK_GRAFT_SUBSTRATE_ROOT", str(blocker / "unreachable")
    )
    with pytest.raises(Py4JJavaError):
        text_substrate.jaccard_pairs(spark, SF, threshold=0.8)


def test_lsh_components_match_standalone(spark, store_root):
    """The materialized components artifact equals the direct
    connected-components fixpoint over the same pair list (d142/d150's
    substrate switch; d31/d55 remain the standalone twins)."""
    from kaggle_data_pipeline_with_aws_spark.operators.components import (
        connected_components,
    )

    pairs = text_substrate.lsh_pairs(spark, SF, threshold=0.5)
    want = _rows(connected_components(pairs))
    got = _rows(text_substrate.lsh_components(spark, SF, threshold=0.5))
    assert got == want and got
    # served from a published artifact, not recomputed: the reader is a
    # bare parquet scan with no iterative-join lineage
    rdf = text_substrate.lsh_components(spark, SF, threshold=0.5)
    rplan = rdf._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in rplan
    assert "SortMergeJoin" not in rplan and "Window" not in rplan
