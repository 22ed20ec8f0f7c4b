"""Round-4 twelfth wave:

- d121 — Z-order layout audit: interleave the bits of two join keys
  into a space-filling-curve sort key and measure per-file key-span
  locality — the lakehouse multi-column clustering decision, made
  with numbers instead of folklore.
- q107 — JSON key profile: schema discovery over a semi-structured
  payload column (key census + per-key value stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d121 — Z-order layout audit over (l_partkey, l_suppkey).
# ---------------------------------------------------------------------------
_Z_BITS = 10  # 10 bits per key → 20-bit z-key; keys are masked into range
_Z_FILES = 16  # simulated file count


def _interleave_sql(a: str, b: str) -> str:
    """Bit-interleave two masked BIGINTs (a gets even bit positions)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _interleave_col(a: Column, b: Column) -> Column:
    out = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        out = out + F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
        out = out + F.shiftleft(
            F.shiftright(b, i).bitwiseAND(1), 2 * i + 1
        )
    return out


@spark_query(
    "d121_zorder_layout",
    f"""
    WITH mx AS (
      SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
    ),
    z AS (
      SELECT l_partkey, l_suppkey,
             {_interleave_sql(
                 f"((l_partkey * {1 << _Z_BITS}) // (mp + 1))",
                 f"((l_suppkey * {1 << _Z_BITS}) // (ms + 1))")} AS zkey
      FROM lineitem, mx
    ),
    n AS (SELECT count(*) AS total FROM z),
    f AS (
      SELECT l_partkey, l_suppkey,
             CAST(least(rn * {_Z_FILES} // total, {_Z_FILES - 1}) AS BIGINT)
               AS file_id
      FROM (SELECT *, row_number() OVER (ORDER BY zkey, l_partkey,
                                         l_suppkey) - 1 AS rn
            FROM z), n
    )
    SELECT file_id, count(*) AS n_rows,
           CAST(max(l_partkey) - min(l_partkey) AS BIGINT) AS part_span,
           CAST(max(l_suppkey) - min(l_suppkey) AS BIGINT) AS supp_span
    FROM f GROUP BY 1 ORDER BY 1
    """,
)
def d121_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would Z-ordering the table on (partkey, suppkey) let BOTH
    single-key predicates prune files? Normalize BOTH keys to the
    same 10-bit range first (unequal bit widths would degenerate the
    curve into a plain sort on the wider key), interleave the bits
    into a Morton curve key, split the z-sorted stream into
    equal files, and report each file's min-max span per key — small
    spans on BOTH columns = two-column pruning works (a single-column
    sort gives a perfect span on one key and the full domain on the
    other; the test asserts the z-layout beats that on the second
    key). The z-key is pure row-local bit arithmetic in codegen; the
    file split reuses the rank machinery (the registered audit ranks
    to mirror the oracle exactly — a production write would
    `repartitionByRange(zkey)`, one exchange)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    scale = 1 << _Z_BITS
    z = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "l_suppkey",
        _interleave_col(
            F.floor(F.col("l_partkey") * scale / (F.col("mp") + 1)).cast(
                "long"
            ),
            F.floor(F.col("l_suppkey") * scale / (F.col("ms") + 1)).cast(
                "long"
            ),
        ).alias("zkey"),
    )
    from ..operators.renumber import contiguous_row_number

    ranked = contiguous_row_number(
        z,
        [F.col("zkey"), F.col("l_partkey"), F.col("l_suppkey")],
        out_col="__rn",
    ).withColumn("__rn", F.col("__rn") - 1)
    n = z.agg(F.count("*").alias("total"))
    f = ranked.crossJoin(F.broadcast(n)).select(
        "l_partkey",
        "l_suppkey",
        F.least(
            F.floor(F.col("__rn") * _Z_FILES / F.col("total")),
            F.lit(_Z_FILES - 1),
        )
        .cast("long")
        .alias("file_id"),
    )
    return (
        f.groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("part_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("supp_span"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# q107 — JSON key profile (schema discovery over props).
# ---------------------------------------------------------------------------
@spark_query(
    "q107_json_key_profile",
    """
    WITH k AS (
      SELECT unnest(json_keys(props)) AS key,
             props
      FROM events WHERE props IS NOT NULL
    )
    SELECT key,
           count(*) AS n_rows,
           CAST(count(DISTINCT json_extract_string(props, '$.' || key))
                AS BIGINT) AS n_distinct,
           CAST(min(TRY_CAST(json_extract_string(props, '$.' || key)
                AS DOUBLE)) AS DOUBLE) AS min_num,
           CAST(max(TRY_CAST(json_extract_string(props, '$.' || key)
                AS DOUBLE)) AS DOUBLE) AS max_num
    FROM k GROUP BY key ORDER BY key
    """,
)
def q107_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the semi-structured `props` column: a
    census of JSON keys with per-key cardinality and numeric range —
    what you run BEFORE promoting payload fields to typed columns
    (q48 is the promotion; this is the survey that chooses what to
    promote). The payload parses ONCE per row into a string map
    (`from_json` — not one `get_json_object` re-parse per key) and
    explodes row-local; the per-key stats are one aggregate over the
    (key, value) stream. At 100 TB the output is bounded by the key
    vocabulary, not the row count."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "key", "v"
        )
    )
    return (
        kv.groupBy("key")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("v").alias("n_distinct"),
            F.min(F.col("v").cast("double")).alias("min_num"),
            F.max(F.col("v").cast("double")).alias("max_num"),
        )
        .orderBy("key")
    )
