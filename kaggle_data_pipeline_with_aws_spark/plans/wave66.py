"""Round-10 wave 66 — lakehouse tier 3: file-statistics data skipping
(the Delta/Iceberg per-file min/max idea, now recorded in the
transaction log by ``commit(stats_cols=…)`` and served by
``snapshot_pruned_ranges``):

- q120 — range-clustered commits: the per-customer spend table lands
  as four append commits, each one custkey quartile (boundaries are
  literal functions of max(custkey), so the oracle states them), one
  file per commit with recorded custkey min/max. Three range probes
  then read through ``pruned_files_ranges``: the log alone proves which
  files cannot match, and the oracle asserts the exact skip counts
  (1, 1, 2 of 4) alongside the value identity of the scanned rows.
- q121 — time-sliced commits: six bimonthly 1996 slices, stats on a
  string slice key (ISO-ordered, so lexicographic range pruning is
  correct). A one-slice probe scans 1 of 6 files; a straddling probe
  scans 2 — the time-partitioned-append pattern every event-log
  deployment uses.

Skipping is proven NECESSARY-side only from metadata (a kept file may
still contain no matching rows — the exact predicate reapplies inside
the scan); the oracle's skip-count columns prove the pruning decision
itself, and the value columns prove no matching row was lost. At scale
this is the difference between touching the table and touching the
matching files' bytes — file skipping happens before any parquet
footer is opened.

Reference scope: lakehouse upgrade path of the reference's
partition-by-convention S3 layout — beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txnlog import VersionedTable
from ..sources.readers import load_table
from .registry import spark_query
from .wave60 import _RESUM_SQL, _SPEND_SQL, _fresh_root, _spend

_N_SLICES = 4  # q120 custkey quartiles


# ---------------------------------------------------------------------------
# q120 — custkey-range clustering + range-probe skipping.
# ---------------------------------------------------------------------------
def _q120_oracle() -> str:
    probes = """
    bt AS (
      SELECT CAST(floor((max(o_custkey) + 1) / 4.0) AS BIGINT) AS b
      FROM orders
    ),
    sp AS MATERIALIZED (
      SELECT o_custkey AS custkey, {spend} AS spend
      FROM orders GROUP BY 1
    )""".format(spend=_SPEND_SQL)
    sel = """
      SELECT '{name}' AS probe, CAST(4 AS BIGINT) AS n_files_total,
             CAST({scanned} AS BIGINT) AS n_files_scanned,
             CAST(count(*) AS BIGINT) AS n_rows,
             {resum} AS spend
      FROM sp, bt WHERE custkey >= {lo} AND custkey <= {hi}"""
    p1 = sel.format(name="p1_first_quartile", scanned=1, lo="0",
                    hi="b - 1", resum=_RESUM_SQL)
    p2 = sel.format(name="p2_second_quartile", scanned=1, lo="b",
                    hi="2 * b - 1", resum=_RESUM_SQL)
    p3 = sel.format(
        name="p3_straddle", scanned=2, lo="0",
        hi="b + CAST(floor(b / 2.0) AS BIGINT)", resum=_RESUM_SQL,
    )
    return f"""WITH {probes}
    SELECT * FROM ({p1} UNION ALL {p2} UNION ALL {p3})
    ORDER BY probe
    """


@spark_query("q120_file_stats_skipping", _q120_oracle())
def q120_file_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping through log-recorded file statistics: four
    quartile-clustered append commits (one file each, custkey min/max
    in the log entry), then three range probes answered by
    ``snapshot_pruned_ranges`` — the skip decision is made from metadata
    alone, and the oracle pins BOTH the exact number of files scanned
    (1/1/2 of 4) and the scanned rows' values. The staging boundary is
    a literal function of max(custkey), so every engine states the
    same quartiles."""
    orders = load_table(spark, sf_dir, "orders")
    maxck = orders.agg(F.max("o_custkey").alias("m")).collect()[0].m
    b = (maxck + 1) // 4
    vt = VersionedTable(spark, _fresh_root("vtab-skip-"))
    spend = _spend(orders).localCheckpoint()
    for i in range(_N_SLICES):
        lo = i * b
        hi = (i + 1) * b - 1 if i < _N_SLICES - 1 else maxck
        vt.commit(
            spend.filter(
                (F.col("custkey") >= lo) & (F.col("custkey") <= hi)
            ).repartition(1),
            mode="append",
            op=f"slice{i}",
            stats_cols=["custkey"],
        )
    probes = [
        ("p1_first_quartile", 0, b - 1),
        ("p2_second_quartile", b, 2 * b - 1),
        ("p3_straddle", 0, b + b // 2),
    ]
    out: DataFrame | None = None
    for name, lo, hi in probes:
        files, total = vt.pruned_files_ranges({"custkey": (lo, hi)})
        agg = (
            vt.snapshot_pruned_ranges({"custkey": (lo, hi)})
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(F.sum(F.col("spend").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("spend"),
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
# q121 — time-sliced appends + slice-key skipping.
# ---------------------------------------------------------------------------
_SLICES_1996 = [
    ("1996-01", "1996-03"),
    ("1996-03", "1996-05"),
    ("1996-05", "1996-07"),
    ("1996-07", "1996-09"),
    ("1996-09", "1996-11"),
    ("1996-11", "1997-01"),
]


def _q121_oracle() -> str:
    base = f"""WITH sp AS MATERIALIZED (
      SELECT o_custkey AS custkey,
             strftime(o_orderdate, '%Y-%m') AS om,
             o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    )"""
    sel = """
      SELECT '{name}' AS probe, CAST(6 AS BIGINT) AS n_files_total,
             CAST({scanned} AS BIGINT) AS n_files_scanned,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS total_price
      FROM sp WHERE slice_key >= '{lo}' AND slice_key <= '{hi}'"""
    # slice_key of a row = the slice's LOWER month label
    keyed = """,
    keyed AS MATERIALIZED (
      SELECT *, CASE
        WHEN om < '1996-03' THEN '1996-01'
        WHEN om < '1996-05' THEN '1996-03'
        WHEN om < '1996-07' THEN '1996-05'
        WHEN om < '1996-09' THEN '1996-07'
        WHEN om < '1996-11' THEN '1996-09'
        ELSE '1996-11' END AS slice_key
      FROM sp
    )"""
    p1 = sel.format(name="p1_one_slice", scanned=1, lo="1996-05",
                    hi="1996-05").replace("FROM sp", "FROM keyed")
    p2 = sel.format(name="p2_two_slices", scanned=2, lo="1996-03",
                    hi="1996-05").replace("FROM sp", "FROM keyed")
    return f"""{base}{keyed}
    SELECT * FROM ({p1} UNION ALL {p2})
    ORDER BY probe
    """


@spark_query("q121_time_sliced_skipping", _q121_oracle())
def q121_time_sliced_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-partitioned-append pattern: six bimonthly 1996 slices
    committed with stats on a string slice key (each file's min = max
    = its label; ISO strings order lexicographically, so range pruning
    on them is exact in every engine). A one-slice probe opens 1 of 6
    files, a straddling probe 2 — the log decides before any footer is
    read. Value identity and the skip counts are both oracle-pinned."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    vt = VersionedTable(spark, _fresh_root("vtab-time-"))
    for lo, hi in _SLICES_1996:
        sl = orders.filter(
            (F.date_format("o_orderdate", "yyyy-MM") >= lo)
            & (F.date_format("o_orderdate", "yyyy-MM") < hi)
        ).select(
            F.col("o_custkey").alias("custkey"),
            "o_totalprice",
            F.lit(lo).alias("slice_key"),
        )
        vt.commit(
            sl.repartition(1),
            mode="append",
            op=f"slice-{lo}",
            stats_cols=["slice_key"],
        )
    probes = [
        ("p1_one_slice", "1996-05", "1996-05"),
        ("p2_two_slices", "1996-03", "1996-05"),
    ]
    out: DataFrame | None = None
    for name, lo, hi in probes:
        files, total = vt.pruned_files_ranges({"slice_key": (lo, hi)})
        agg = (
            vt.snapshot_pruned_ranges({"slice_key": (lo, hi)})
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
# q122 — log checkpointing: O(tail) reads across the checkpoint boundary.
# ---------------------------------------------------------------------------
_Q122_MONTHS = [f"1996-{m:02d}" for m in range(1, 13)]
_CHK_AT = 7  # checkpoint after the 8th monthly commit (version 7)


def _q122_oracle() -> str:
    month_case = " ".join(
        f"WHEN strftime(o_orderdate, '%Y-%m') <= '{m}' THEN {i}"
        for i, m in enumerate(_Q122_MONTHS)
    )
    base = f"""WITH ym AS MATERIALIZED (
      SELECT o_custkey AS custkey, o_totalprice,
             CASE {month_case} END AS v
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    )"""
    sel = """
      SELECT CAST({v} AS BIGINT) AS version,
             CAST({chk} AS BIGINT) AS checkpoint_used,
             CAST({tail} AS BIGINT) AS n_tail_entries,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS total_price
      FROM ym WHERE v <= {v}"""
    reads = " UNION ALL ".join(
        sel.format(
            v=v,
            chk=(_CHK_AT if v >= _CHK_AT else -1),
            tail=(v - _CHK_AT if v >= _CHK_AT else v + 1),
        )
        for v in (5, _CHK_AT, 11)
    )
    return f"""{base}
    SELECT * FROM ({reads})
    ORDER BY version
    """


@spark_query("q122_log_checkpointed_snapshot", _q122_oracle())
def q122_log_checkpointed_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log checkpointing (Delta's ``_last_checkpoint``): 12 monthly
    append commits, a checkpoint materialized at version 7, then
    snapshots at v5 (below the checkpoint — full replay), v7 (at it —
    zero tail), and v11 (checkpoint + 4 tail entries). The output pins
    BOTH the replay plan (which checkpoint a read used and how many
    tail entries it read — the O(tail) claim) and the snapshots' value
    identity against the oracle's direct statement. At production
    commit rates this is what keeps metadata reads constant as the log
    grows."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    vt = VersionedTable(spark, _fresh_root("vtab-chk-"))
    for m in _Q122_MONTHS:
        vt.commit(
            orders.filter(F.date_format("o_orderdate", "yyyy-MM") == m)
            .select(F.col("o_custkey").alias("custkey"), "o_totalprice")
            .repartition(1),
            mode="append",
            op=f"month-{m}",
        )
    vt.checkpoint(_CHK_AT)
    out: DataFrame | None = None
    for v in (5, _CHK_AT, 11):
        base, n_tail = vt.replay_plan(v)
        agg = (
            vt.snapshot(v)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
                )
                .cast("double")
                .alias("total_price"),
            )
            .select(
                F.lit(v).cast("long").alias("version"),
                F.lit(base if base is not None else -1)
                .cast("long")
                .alias("checkpoint_used"),
                F.lit(n_tail).cast("long").alias("n_tail_entries"),
                "*",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    assert out is not None
    return out.orderBy("version")
