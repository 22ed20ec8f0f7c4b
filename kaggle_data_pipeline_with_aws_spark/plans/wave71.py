"""Round-11 wave 71 — compound data skipping and the brute-fallback
tier of adaptive filtered ANN:

- q123 — CONJUNCTIVE multi-column file skipping
  (``VersionedTable.pruned_files_ranges``): the 1996-H1 orders land as
  six append commits clustered on BOTH a custkey half AND a bimonthly
  slice key, with per-file stats on both columns. A compound range
  probe skips a file when EITHER column's recorded range provably
  misses — the Delta/Iceberg compound skipping decision (per-column
  necessary conditions intersect). The oracle pins the exact
  files-scanned counts (1 / 4 / 2 of 6) and the scanned rows' values.
- d218 — the adaptive filtered search's LAST tier (round-10 verdict
  #3's "or fall back to filtered-brute"): under a HARSH compound
  filter (shard AND label — ~1/40 of the corpus) even escalated
  probing can starve; a query whose hi-probe candidate pool is still
  below the floor falls back to the EXACT brute scan of the filtered
  corpus (which is tiny precisely when this happens — the fallback is
  cheap exactly when it is needed). Tier choice is a per-query column
  predicate on the two admitted-candidate counts. On this corpus the
  tiers move with scale exactly as selectivity predicts: brute at
  sf0.001/sf0.01 (≈12 filtered vectors), hi-probe at sf0.1 (≈50),
  base-probe from 10× up (≈500+) — one policy, every decade served.

Scale shape: q123's skip decision stays metadata-only (the log's
per-file ranges, no footer reads); d218's brute tier scans
|filtered| × |starved queries| pairs where |filtered| < the floor ×
cells/probe by construction — bounded, and shrinking in relative terms
as the corpus grows (larger corpora graduate to the probe tiers).

Reference scope: lakehouse + LLM-serving beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.txnlog import VersionedTable
from ..sources.readers import load_table
from .registry import spark_query
from .wave60 import _fresh_root
from .wave69 import (
    _K,
    _MIN_CAND,
    _P_BASE,
    _P_HI,
    _shard_col,
    _shard_sql,
)

_N_CENTS = 16
_Q_LO, _Q_HI = 100, 110
_SHARD = 1
_LABEL = 3


# ---------------------------------------------------------------------------
# q123 — compound (multi-column) data skipping.
# ---------------------------------------------------------------------------
_Q123_SLICES = [("1996-01", "1996-03"), ("1996-03", "1996-05"),
                ("1996-05", "1996-07")]


def _q123_oracle() -> str:
    base = """WITH bt AS (
      SELECT CAST(floor((max(o_custkey) + 1) / 2.0) AS BIGINT) AS b
      FROM orders
    ),
    sp AS MATERIALIZED (
      SELECT o_custkey AS custkey, o_totalprice,
             CASE WHEN strftime(o_orderdate, '%Y-%m') < '1996-03'
                    THEN '1996-01'
                  WHEN strftime(o_orderdate, '%Y-%m') < '1996-05'
                    THEN '1996-03'
                  ELSE '1996-05' END AS slice_key
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
    )"""
    sel = """
      SELECT '{name}' AS probe, CAST(6 AS BIGINT) AS n_files_total,
             CAST({scanned} AS BIGINT) AS n_files_scanned,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS total_price
      FROM sp, bt
      WHERE custkey >= {clo} AND custkey <= {chi}
        AND slice_key >= '{slo}' AND slice_key <= '{shi}'"""
    p1 = sel.format(name="p1_one_cell", scanned=1, clo="0", chi="b - 1",
                    slo="1996-01", shi="1996-01")
    p2 = sel.format(name="p2_slice_band", scanned=4, clo="0",
                    chi="2 * b", slo="1996-03", shi="1996-05")
    p3 = sel.format(name="p3_half_band", scanned=2, clo="b",
                    chi="2 * b", slo="1996-01", shi="1996-03")
    return f"""{base}
    SELECT * FROM ({p1} UNION ALL {p2} UNION ALL {p3})
    ORDER BY probe
    """


@spark_query("q123_compound_stats_skipping", _q123_oracle())
def q123_compound_stats_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compound data skipping: six commits clustered on (custkey half
    × bimonthly slice), stats recorded on BOTH columns, probes
    answered through ``snapshot_pruned_ranges`` — a file is opened
    only when EVERY probed column's recorded range can intersect its
    bound. The one-cell probe opens 1 of 6 files, the slice band 4,
    the half band 2 — all decided from log metadata, values and skip
    counts both oracle-pinned."""
    orders = load_table(spark, sf_dir, "orders")
    maxck = orders.agg(F.max("o_custkey").alias("m")).collect()[0].m
    b = (maxck + 1) // 2
    h1 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    vt = VersionedTable(spark, _fresh_root("vtab-compound-"))
    for half in (0, 1):
        clo = 0 if half == 0 else b
        chi = b - 1 if half == 0 else maxck
        for slo, shi in _Q123_SLICES:
            sl = h1.filter(
                (F.col("o_custkey") >= clo)
                & (F.col("o_custkey") <= chi)
                & (F.date_format("o_orderdate", "yyyy-MM") >= slo)
                & (F.date_format("o_orderdate", "yyyy-MM") < shi)
            ).select(
                F.col("o_custkey").alias("custkey"),
                "o_totalprice",
                F.lit(slo).alias("slice_key"),
            )
            vt.commit(
                sl.repartition(1),
                mode="append",
                op=f"cell-{half}-{slo}",
                stats_cols=["custkey", "slice_key"],
            )
    probes = [
        ("p1_one_cell", (0, b - 1), ("1996-01", "1996-01")),
        ("p2_slice_band", (0, 2 * b), ("1996-03", "1996-05")),
        ("p3_half_band", (b, 2 * b), ("1996-01", "1996-03")),
    ]
    out: DataFrame | None = None
    for name, crange, srange in probes:
        bounds = {"custkey": crange, "slice_key": srange}
        files, total = vt.pruned_files_ranges(bounds)
        agg = (
            vt.snapshot_pruned_ranges(bounds)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                )
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(name).alias("probe"),
                F.lit(total).cast("long").alias("n_files_total"),
                F.lit(len(files)).cast("long").alias("n_files_scanned"),
                "*",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    assert out is not None
    return out.orderBy("probe")


# ---------------------------------------------------------------------------
# d218 — three-tier adaptive filtered search (base probe → escalated
# probe → filtered-brute fallback).
# ---------------------------------------------------------------------------
def _harsh_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        (_shard_col() == _SHARD) & (F.col("label") == _LABEL)
    )


def _harsh_sql() -> str:
    return f"{_shard_sql()} = {_SHARD} AND label = {_LABEL}"


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= _Q_LO) & (F.col("vec_id") < _Q_HI)
    )


def _substrate218(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Harsh-filter twin of wave69's ``_substrate``: the corpus-to-cell
    assignment (vector carried) and the queries' top-``_P_HI`` probe
    cells (vector + rank carried), each ONE checkpointed pass — both
    counting levels, both probe rankings, and the brute tier derive
    from these two tables (round-11, guide §2.4; previously 4
    assignment passes per query plan)."""
    cents = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_CENTS)
    assigned = (
        similarity.ivf_cells_fixed_centroids(
            _harsh_filtered(spark, sf_dir), cents, 1,
            "neighbor_id", "__cv",
        )
        .drop("__crank")
        .localCheckpoint()
    )
    qcells = similarity.ivf_cells_fixed_centroids(
        _queries(spark, sf_dir), cents, _P_HI, "query_id", "__qv"
    ).localCheckpoint()
    return assigned, qcells


def _ncand218(
    assigned: DataFrame, qcells: DataFrame, n_probe: int
) -> DataFrame:
    """(query_id, n_candidates) under the harsh filter at probe level
    ``n_probe`` from the substrate tables, zero-kept."""
    cand = (
        qcells.filter(F.col("__crank") <= n_probe)
        .select("query_id", "centroid_id")
        .join(
            assigned.select("neighbor_id", "centroid_id"), "centroid_id"
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_candidates"))
    )
    return (
        qcells.filter(F.col("__crank") == 1)
        .select(F.col("query_id"))
        .join(cand, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
        )
    )


def _d218_ctes() -> str:
    """fc/cents/qs/assigned/qcells + per-probe cand/ncand/ranked CTEs
    under the harsh compound filter (the wave-69 chain restated with
    the shard∧label predicate), plus the exact brute ranking."""
    from .llm_data import _DOT_SQL, _DOT_VC, _NORM_SQL, _NORM_V, _NORM_C

    cos_vc = f"round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6)"
    cos_ab = (
        f"round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} "
        f"* {_NORM_SQL.format(v='b')}), 6)"
    )
    parts = [f"""
    WITH fc AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_harsh_sql()}
    ),
    cents AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id < {_N_CENTS}
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id >= {_Q_LO} AND vec_id < {_Q_HI}
    ),
    assigned AS MATERIALIZED (
      SELECT node AS neighbor_id, centroid_id FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM fc v, cents c) WHERE r = 1
    ),
    qcells AS MATERIALIZED (
      SELECT node AS query_id, centroid_id, r FROM (
        SELECT v.vec_id AS node, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_vc} DESC, c.centroid_id ASC) AS r
        FROM (SELECT query_id AS vec_id, embedding FROM qs) v, cents c
      ) WHERE r <= {_P_HI}
    )"""]
    for tag, n in (("b", _P_BASE), ("h", _P_HI)):
        parts.append(f""",
    cand{tag} AS MATERIALIZED (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a
      JOIN (SELECT query_id, centroid_id FROM qcells WHERE r <= {n}) p
        ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    ncand{tag} AS (
      SELECT q.query_id,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_candidates
      FROM qs q LEFT JOIN (
        SELECT query_id, count(*) AS n FROM cand{tag} GROUP BY 1
      ) c ON c.query_id = q.query_id
    ),
    ranked{tag} AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM (
        SELECT c.query_id, c.neighbor_id, {cos_ab} AS cos_sim
        FROM cand{tag} c
        JOIN embeddings b ON b.vec_id = c.query_id
        JOIN embeddings a ON a.vec_id = c.neighbor_id
      )
    )""")
    parts.append(f""",
    rankedx AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM (
        SELECT b.query_id, a.vec_id AS neighbor_id, {cos_ab} AS cos_sim
        FROM (SELECT vec_id, embedding FROM fc) a,
             (SELECT query_id, embedding FROM qs) b(query_id, embedding)
        WHERE a.vec_id <> b.query_id
      )
    ),
    tiers AS MATERIALIZED (
      SELECT b.query_id, b.n_candidates AS n_cand_base,
             h.n_candidates AS n_cand_hi,
             CASE WHEN b.n_candidates >= {_MIN_CAND} THEN 'p1_base'
                  WHEN h.n_candidates >= {_MIN_CAND} THEN 'p2_hi'
                  ELSE 'p3_brute' END AS tier
      FROM ncandb b JOIN ncandh h ON h.query_id = b.query_id
    )""")
    return "".join(parts)


def _d218_oracle() -> str:
    return f"""{_d218_ctes()}
    SELECT t.query_id, t.n_cand_base, t.n_cand_hi, t.tier,
           CAST(r.rank AS BIGINT) AS rank, r.neighbor_id, r.cos_sim
    FROM tiers t
    JOIN (
      SELECT rb.* FROM rankedb rb
      JOIN tiers tb ON tb.query_id = rb.query_id AND tb.tier = 'p1_base'
      UNION ALL
      SELECT rh.* FROM rankedh rh
      JOIN tiers th ON th.query_id = rh.query_id AND th.tier = 'p2_hi'
      UNION ALL
      SELECT rx.* FROM rankedx rx
      JOIN tiers tx ON tx.query_id = rx.query_id AND tx.tier = 'p3_brute'
    ) r ON r.query_id = t.query_id
    WHERE r.rank <= {_K}
    ORDER BY t.query_id, r.rank
    """


@spark_query("d218_ann_adaptive_brute_fallback", _d218_oracle())
def d218_ann_adaptive_brute_fallback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three-tier adaptive filtered search: probe {base} cells; if the
    filter starved the pool, escalate to {hi}; if even that is below
    the floor, scan the filtered corpus exactly (brute) — which is
    cheap precisely when it triggers, because a starved-at-hi pool
    bounds the filtered corpus itself. Tier choice is per query from
    the admitted-candidate counts; every tier's ranking is exact
    within its candidate set."""
    # Round-11 plan: one checkpointed substrate feeds both counting
    # levels, both probe rankings, and the brute tier (guide §2.4).
    assigned, qcells = _substrate218(spark, sf_dir)
    flags_b = _ncand218(assigned, qcells, _P_BASE)
    flags_h = _ncand218(assigned, qcells, _P_HI)
    tiers = (
        flags_b.select(
            "query_id", F.col("n_candidates").alias("n_cand_base")
        )
        .join(
            flags_h.select(
                "query_id", F.col("n_candidates").alias("n_cand_hi")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "n_cand_base",
            "n_cand_hi",
            F.when(F.col("n_cand_base") >= _MIN_CAND, F.lit("p1_base"))
            .when(F.col("n_cand_hi") >= _MIN_CAND, F.lit("p2_hi"))
            .otherwise(F.lit("p3_brute"))
            .alias("tier"),
        )
        .localCheckpoint()
    )
    def tier_ids(tier: str) -> DataFrame:
        return tiers.filter(F.col("tier") == tier).select("query_id")

    def probed(tier: str, n_probe: int) -> DataFrame:
        return (
            qcells.filter(F.col("__crank") <= n_probe)
            .join(tier_ids(tier), "query_id", "left_semi")
            .drop("__crank")
        )

    base = similarity.ivf_topk_precomputed(
        assigned, probed("p1_base", _P_BASE), k=_K
    )
    hi = similarity.ivf_topk_precomputed(
        assigned, probed("p2_hi", _P_HI), k=_K
    )
    # the brute tier scans the filtered corpus exactly — the substrate
    # assignment table carries every filtered vector, so it IS that
    # corpus (no re-read, no re-filter); query vectors ride in on the
    # rank-1 probe rows.
    brute = similarity.brute_force_topk(
        assigned.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("__cv").alias("embedding"),
        ),
        qcells.filter(F.col("__crank") == 1)
        .join(tier_ids("p3_brute"), "query_id", "left_semi")
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("__qv").alias("embedding"),
        ),
        k=_K,
    )
    results = (
        base.unionByName(hi)
        .unionByName(brute)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "cos_sim",
        )
    )
    return (
        tiers.join(results, "query_id")
        .select(
            "query_id", "n_cand_base", "n_cand_hi", "tier",
            "rank", "neighbor_id", "cos_sim",
        )
        .orderBy("query_id", "rank")
    )
