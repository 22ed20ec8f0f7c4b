"""Round-11 wave 72 — two further data-skipping disciplines on the
transaction-logged table, completing the file-pruning face (q120/q121
single-column ranges, q123 compound ranges):

- q124 — Z-ORDER clustering vs linear clustering, measured head to
  head: the same orders rows land twice, once as 8 files clustered on
  ``o_custkey`` alone (linear) and once as 8 files clustered on the
  Morton/Z interleave of (custkey bucket, month bucket) — the
  Delta ``OPTIMIZE ZORDER BY`` / space-filling-curve idea. Z tiles
  keep BOTH columns' per-file min/max tight (each file is a 2×4 cell
  rectangle), so 2-D box probes skip most files, while the linear
  layout's month ranges span everything and month predicates prune
  nothing. Four probes (an origin box, a full-width month band, a
  quadrant, a single cell) read through the SAME compound-skipping
  machinery as q123; the oracle rebuilds each layout's per-file
  min/max from the identical file assignment in SQL and re-derives
  the skip decision, so both the counts AND the scanned rows' values
  are proven, not pinned.
- q125 — Bloom-filter POINT-LOOKUP skipping: min/max ranges cannot
  prune an equality probe on an unclustered high-cardinality key
  (every file's [min,max] straddles every key). The bloom index
  (``VersionedTable.commit(bloom_col=...)`` — per-file sidecar under
  ``_txn_index/``, entry carries only the pointer) proves absence:
  a probe key missing any of its k bit positions in a file's filter
  cannot be in that file. Three present keys admit ~1 file of 8 each;
  an absent key admits ~0. The oracle rebuilds every file's filter
  from the same portable md5 positions in SQL and re-derives the
  admission decision — counts and values both value-checked, false
  positives (if the hash produced any) reproduced identically.

Scale shape: both probes stay metadata-only until the final scan —
q124 decides from per-file ranges in the log (KB), q125 from per-file
sidecars (index bytes, never data bytes; entries stay O(KB) however
large the files). Z-order staging here assigns tiles by closed-form
arithmetic on 3-bit buckets; a production writer gets the identical
file property from ``repartitionByRange`` on the full-width Z value.

Reference scope: lakehouse upgrade path of the reference's ledger
(beyond-reference surface), same family as q120–q123.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import BLOOM_BITS, BLOOM_K, VersionedTable
from ..sources.readers import load_table
from .registry import spark_query
from .wave60 import _fresh_root

_MONEY = "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)"

# (probe, custkey-bucket range, month-bucket range) — inclusive boxes
_Q124_PROBES = [
    ("pA_origin_box", (0, 1), (0, 1)),
    ("pB_month_band", (0, 7), (2, 3)),
    ("pC_quadrant", (4, 7), (4, 7)),
    ("pD_point_cell", (5, 5), (6, 6)),
]


def _q124_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → (cb, mb, o_totalprice): 3-bit custkey bucket × 3-bit
    month bucket (months since 1995-01, the synthetic orders' first
    month, mod 8) — the two clustering dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    cb = (F.col("o_custkey") % 8).cast("int")
    mb = (
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        % 8
    ).cast("int")
    return orders.select(
        cb.alias("cb"), mb.alias("mb"), "o_totalprice"
    )


def _zfid(cb, mb):
    """Z-curve file id: the bit-interleave of (cb, mb) is
    z = mb0 + 2·cb0 + 4·mb1 + 8·cb1 + 16·mb2 + 32·cb2; tiles of 8
    consecutive z values (z // 8) fix the HIGH bits (cb1, mb2, cb2),
    so each file is a contiguous 2-wide cb × 4-wide mb rectangle —
    closed form: cb1 + 2·mb2 + 4·cb2."""
    return (
        (F.floor(cb / 2) % 2) + 2 * F.floor(mb / 4) + 4 * F.floor(cb / 4)
    ).cast("int")


def _q124_oracle() -> str:
    probes = ", ".join(
        f"('{n}', {c[0]}, {c[1]}, {m[0]}, {m[1]})"
        for n, c, m in _Q124_PROBES
    )
    scan_arm = """
      SELECT '{layout}' AS layout, p.probe,
             CAST((SELECT count(*) FROM {stats}) AS BIGINT)
               AS n_files_total,
             CAST(count(*) AS BIGINT) AS n_files_scanned
      FROM probes p JOIN {stats} s
        ON s.chi >= p.pclo AND s.clo <= p.pchi
       AND s.mhi >= p.pmlo AND s.mlo <= p.pmhi
      GROUP BY 1, 2"""
    return f"""WITH src AS MATERIALIZED (
      SELECT (o_custkey % 8) AS cb,
             (((year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1) % 8) AS mb,
             o_totalprice
      FROM orders
    ),
    tiles AS MATERIALIZED (
      SELECT cb, mb, o_totalprice,
             ((cb // 2) % 2 + 2 * (mb // 4) + 4 * (cb // 4)) AS zfid
      FROM src
    ),
    zstats AS (
      SELECT zfid AS fid, min(cb) AS clo, max(cb) AS chi,
             min(mb) AS mlo, max(mb) AS mhi
      FROM tiles GROUP BY 1
    ),
    lstats AS (
      SELECT cb AS fid, min(cb) AS clo, max(cb) AS chi,
             min(mb) AS mlo, max(mb) AS mhi
      FROM tiles GROUP BY 1
    ),
    probes(probe, pclo, pchi, pmlo, pmhi) AS (VALUES {probes}),
    boxagg AS (
      SELECT p.probe, CAST(count(*) AS BIGINT) AS n_rows,
             {_MONEY} AS total_price
      FROM probes p JOIN tiles s
        ON s.cb BETWEEN p.pclo AND p.pchi
       AND s.mb BETWEEN p.pmlo AND p.pmhi
      GROUP BY 1
    ),
    scan AS ({scan_arm.format(layout="zorder", stats="zstats")}
      UNION ALL {scan_arm.format(layout="linear", stats="lstats")})
    SELECT sc.layout, sc.probe, sc.n_files_total, sc.n_files_scanned,
           b.n_rows, b.total_price
    FROM scan sc JOIN boxagg b ON b.probe = sc.probe
    ORDER BY sc.layout, sc.probe
    """


@spark_query("q124_zorder_clustered_skipping", _q124_oracle())
def q124_zorder_clustered_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-order vs linear clustering under the same 2-D box probes:
    stage orders twice (8 Z-tile files with tight per-file ranges on
    BOTH buckets vs 8 custkey files whose month ranges span
    everything), answer every probe through
    ``snapshot_pruned_ranges``, and report files-scanned side by
    side. On fully-populated buckets the Z layout opens 1/4/2/1 of 8
    files against linear's 2/8/4/1 — the space-filling-curve argument
    in measured form; values and counts both oracle-derived from the
    identical file assignment."""
    src = _q124_src(spark, sf_dir).withColumn(
        "zfid", _zfid(F.col("cb"), F.col("mb"))
    )
    src = src.localCheckpoint()  # 16 single-file commits reread it
    layouts: list[tuple[str, VersionedTable]] = []
    for layout, fid_col in (("zorder", "zfid"), ("linear", "cb")):
        vt = VersionedTable(spark, _fresh_root(f"vtab-{layout}-"))
        for g in range(8):
            vt.commit(
                src.filter(F.col(fid_col) == g)
                .select("cb", "mb", "o_totalprice")
                .repartition(1),
                mode="append",
                op=f"{layout}-{g}",
                stats_cols=["cb", "mb"],
            )
        layouts.append((layout, vt))
    out: DataFrame | None = None
    for layout, vt in layouts:
        for name, (clo, chi), (mlo, mhi) in _Q124_PROBES:
            bounds = {"cb": (clo, chi), "mb": (mlo, mhi)}
            files, total = vt.pruned_files_ranges(bounds)
            row = (
                vt.snapshot_pruned_ranges(bounds)
                .agg(
                    F.count("*").cast("long").alias("n_rows"),
                    F.expr(_MONEY).alias("total_price"),
                )
                .select(
                    F.lit(layout).alias("layout"),
                    F.lit(name).alias("probe"),
                    F.lit(total).cast("long").alias("n_files_total"),
                    F.lit(len(files)).cast("long").alias(
                        "n_files_scanned"
                    ),
                    "*",
                )
            )
            out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("layout", "probe")


# ---------------------------------------------------------------------------
# q125 — bloom-filter point-lookup skipping.
# ---------------------------------------------------------------------------
_Q125_FILES = 8


def _q125_hash_sql(expr: str, j: int) -> str:
    from ..operators.text import portable_hash_sql

    return portable_hash_sql(
        f"'blm{j}|' || CAST({expr} AS VARCHAR)", BLOOM_BITS
    )


def _q125_oracle() -> str:
    pos_arms = " UNION ALL ".join(
        f"SELECT (o_orderkey % {_Q125_FILES}) AS fid, "
        f"{_q125_hash_sql('o_orderkey', j)} AS pos FROM orders"
        for j in range(BLOOM_K)
    )
    ppos_arms = " UNION ALL ".join(
        f"SELECT probe, okey, {_q125_hash_sql('okey', j)} AS pos "
        f"FROM probes"
        for j in range(BLOOM_K)
    )
    return f"""WITH fb AS MATERIALIZED (
      SELECT DISTINCT fid, pos FROM ({pos_arms})
    ),
    keyed AS (
      SELECT o_orderkey AS k,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM (SELECT DISTINCT o_orderkey FROM orders)
    ),
    probes AS (
      SELECT 'p1_present' AS probe, (SELECT k FROM keyed WHERE rn = 1)
        AS okey
      UNION ALL SELECT 'p2_present', (SELECT k FROM keyed WHERE rn = 2)
      UNION ALL SELECT 'p3_present', (SELECT k FROM keyed WHERE rn = 3)
      UNION ALL SELECT 'p4_absent',
        (SELECT max(o_orderkey) + 1 FROM orders)
    ),
    ppos AS (SELECT DISTINCT probe, okey, pos FROM ({ppos_arms})),
    admit AS (
      SELECT p.probe, f.fid
      FROM ppos p JOIN fb f ON f.pos = p.pos
      GROUP BY 1, 2
      HAVING count(*) = (
        SELECT count(*) FROM ppos q WHERE q.probe = p.probe
      )
    ),
    matched AS (
      SELECT p.probe, CAST(count(*) AS BIGINT) AS n_rows,
             {_MONEY} AS total_price
      FROM probes p JOIN orders o ON o.o_orderkey = p.okey
      GROUP BY 1
    )
    SELECT p.probe, p.okey,
           CAST({_Q125_FILES} AS BIGINT) AS n_files_total,
           CAST(coalesce(a.nf, 0) AS BIGINT) AS n_files_admitted,
           CAST(coalesce(m.n_rows, 0) AS BIGINT) AS n_rows,
           CAST(coalesce(m.total_price, 0.0) AS DOUBLE) AS total_price
    FROM probes p
    LEFT JOIN (SELECT probe, count(*) AS nf FROM admit GROUP BY 1) a
      ON a.probe = p.probe
    LEFT JOIN matched m ON m.probe = p.probe
    ORDER BY p.probe
    """


@spark_query("q125_bloom_point_lookup_skipping", _q125_oracle())
def q125_bloom_point_lookup_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-lookup skipping through the per-file bloom index: orders
    land as 8 files split on ``o_orderkey % 8`` (every file's
    [min,max] straddles every key — range stats prune NOTHING here),
    each committed with ``bloom_col='o_orderkey'``. Three present
    keys and one absent key probe ``bloom_admitted_files``; with 2
    hashes over 16K bits the present keys open ~1 file of 8 and the
    absent key ~0 — and whatever the hashes actually admit, the
    oracle rebuilds the identical filters in SQL, so the admission
    counts are derived, not asserted."""
    orders = load_table(spark, sf_dir, "orders")
    vt = VersionedTable(spark, _fresh_root("vtab-bloom-"))
    src = orders.select("o_orderkey", "o_totalprice").localCheckpoint()
    for g in range(_Q125_FILES):
        vt.commit(
            src.filter(F.col("o_orderkey") % _Q125_FILES == g)
            .repartition(1),
            mode="append",
            op=f"shard-{g}",
            bloom_col="o_orderkey",
        )
    lohi = src.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    present = [
        r.o_orderkey
        for r in src.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(3)
        .collect()
    ]
    probes = [(f"p{i + 1}_present", k) for i, k in enumerate(present)]
    probes.append(("p4_absent", lohi.hi + 1))
    out: DataFrame | None = None
    for name, key in probes:
        files, total = vt.bloom_admitted_files("o_orderkey", key)
        row = (
            vt.snapshot_bloom("o_orderkey", key)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.coalesce(F.expr(_MONEY), F.lit(0.0)).alias(
                    "total_price"
                ),
            )
            .select(
                F.lit(name).alias("probe"),
                F.lit(key).cast("long").alias("okey"),
                F.lit(total).cast("long").alias("n_files_total"),
                F.lit(len(files)).cast("long").alias("n_files_admitted"),
                "*",
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("probe")
