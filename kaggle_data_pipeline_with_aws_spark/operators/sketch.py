"""KMV (k-minimum-values) distinct-count sketch.

``approx_count_distinct`` (HyperLogLog) is the usual Spark answer, but
its estimate is engine-specific — no cross-engine oracle can check it.
KMV with the portable md5 hash is *deterministic*: the k smallest
distinct hash values, and therefore the estimate, are bit-identical in
any engine that implements md5. Estimate (for k-th smallest distinct
hash ``h_k`` over a hash space of size M):

    D̂ = (k − 1) · M / h_k

Scale shape: hash each value (map-side), global top-k-smallest via
``orderBy().limit(k)`` — Spark's TakeOrderedAndProject computes per-
partition top-k then merges k·partitions rows on the driver; nothing
close to the data size ever moves. Sketches of partitions/streams can
be unioned (take the k smallest of the union) — the standard mergeable-
sketch property, usable for incremental distinct counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import HASH_MOD, portable_hash, portable_hash60


def kmv_distinct_estimate(
    df: DataFrame, col: str | Column, k: int = 256
) -> DataFrame:
    """One-row DataFrame: (k, kth_min_hash, est_distinct) for the
    distinct count of ``col``. Exact duplicates of a hash value are
    collapsed before ranking (KMV is defined on distinct hashes)."""
    c = col if isinstance(col, Column) else F.col(col)
    hashes = (
        df.select(portable_hash(c.cast("string")).alias("__h"))
        .distinct()
        .orderBy("__h")
        .limit(k)
    )
    return hashes.agg(
        F.count("*").cast("long").alias("k"),
        F.max("__h").alias("kth_min_hash"),
        F.round(
            (F.count("*") - 1) * F.lit(float(HASH_MOD)) / F.max("__h"), 6
        ).alias("est_distinct"),
    )


def countmin_table(
    df: DataFrame,
    col: str | Column,
    depth: int = 3,
    width: int = 512,
    salt: str = "cm",
) -> DataFrame:
    """Count-min sketch of ``col``'s frequency distribution as a
    (row, bucket, n) table — ``depth × width`` counters, built with the
    portable hash so the sketch (and every estimate read from it) is
    bit-identical across engines.

    One explode to (row_j, bucket_j) per value and a single groupBy:
    the shuffle carries at most depth·width counter partials per map
    task regardless of input size — the sketch is the classic
    fixed-memory answer to "frequencies of a 100 TB stream". Sketches
    of different partitions/streams merge by adding counters
    (sum-mergeable, same as the streaming use)."""
    c = col if isinstance(col, Column) else F.col(col)
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                F.pmod(
                    portable_hash(
                        F.concat(F.lit(f"{salt}{j}|"), c.cast("string"))
                    ),
                    F.lit(width),
                ).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("n"))
    )


def countmin_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    col: str = "term",
    depth: int = 3,
    width: int = 512,
    salt: str = "cm",
) -> DataFrame:
    """Point-query the sketch for each candidate value: est = min over
    rows of the candidate's counter (the count-min guarantee: est ≥
    true count, overshoot bounded by collisions). The sketch table is
    depth·width rows → broadcast; candidates join it row-locally."""
    probes = candidates.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(
                            portable_hash(
                                F.concat(
                                    F.lit(f"{salt}{j}|"),
                                    F.col(col).cast("string"),
                                )
                            ),
                            F.lit(width),
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("*", "rb.row", "rb.bucket").drop("rb")
    other = [c for c in candidates.columns]
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(*other)
        .agg(F.min("n").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Bloom filter (portable, 32-bit words)
# ---------------------------------------------------------------------------
BLOOM_WORD_BITS = 32


def _bloom_pos(value: Column, j: int, m_bits: int, salt: str) -> Column:
    """Bit position of hash function ``j`` — portable md5 hash of the
    salted value, so the filter bits are identical in any engine."""
    return portable_hash(
        F.concat(F.lit(f"{salt}{j}:"), value.cast("string")), mod=m_bits
    )


def bloom_build(
    df: DataFrame,
    col: str | Column,
    m_bits: int = 1024,
    k: int = 4,
    salt: str = "bf",
) -> DataFrame:
    """Build a Bloom filter over ``col`` as a (word_idx, bits) table —
    m_bits/32 words of 32 set-bit flags (32-bit words keep every mask
    below 2^32, shift-safe in any engine's signed 64-bit math).

    The build is one narrow pass + a groupBy on at most m_bits/32 word
    indexes — the classic pre-join pruning sketch: build on the small
    side's keys, broadcast the (tiny) word table, and discard non-member
    rows of the big side map-side before any shuffle."""
    c = col if isinstance(col, Column) else F.col(col)
    positions = df.select(
        F.explode(
            F.array(*[_bloom_pos(c, j, m_bits, salt) for j in range(k)])
        ).alias("p")
    )
    return positions.groupBy(
        F.shiftright("p", 5).alias("word_idx")
    ).agg(
        F.bit_or(
            # PySpark's shiftleft() only takes a literal shift amount;
            # the per-row shift needs the SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), p & 31)")
        ).alias("bits")
    )


def bloom_probe(
    df: DataFrame,
    col: str | Column,
    bloom: DataFrame,
    m_bits: int = 1024,
    k: int = 4,
    salt: str = "bf",
    out_col: str = "bloom_member",
) -> DataFrame:
    """Append ``out_col``: 1 if every one of ``col``'s k bloom bits is
    set (possible member — false positives at the configured rate),
    0 if definitely absent. The bloom word table broadcasts; the probe
    is per-row expressions + a broadcast join per hash function — the
    probed side is never shuffled."""
    c = col if isinstance(col, Column) else F.col(col)
    out = df
    hit_cols = []
    for j in range(k):
        p = _bloom_pos(c, j, m_bits, salt)
        bj = bloom.select(
            F.col("word_idx").alias(f"__w{j}"), F.col("bits").alias(f"__b{j}")
        )
        out = out.withColumn(f"__p{j}", p).join(
            F.broadcast(bj),
            F.shiftright(F.col(f"__p{j}"), 5) == F.col(f"__w{j}"),
            "left",
        )
        hit = (
            F.coalesce(f"__b{j}", F.lit(0).cast("long")).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), __p{j} & 31)")
            )
            != 0
        ).cast("int")
        hit_cols.append(hit)
    member = hit_cols[0]
    for h in hit_cols[1:]:
        member = member * h
    out = out.withColumn(out_col, member)
    return out.drop(
        *[f"__p{j}" for j in range(k)],
        *[f"__w{j}" for j in range(k)],
        *[f"__b{j}" for j in range(k)],
    )


# ---------------------------------------------------------------------------
# HyperLogLog with explicit registers (cross-engine bit-exact)
# ---------------------------------------------------------------------------
#
# Spark's approx_count_distinct IS HyperLogLog++, but its register
# state is JVM-internal — not reproducible in another engine, so it
# can never be value-oracled and its sketches can't be merged with
# ones built elsewhere. This variant keeps the registers as plain
# (group, idx, rho) rows built from the portable 60-bit hash: the
# sketch is an ordinary table — mergeable with MAX across datasets /
# days / engines, bit-identical everywhere, and the estimator's only
# non-integer steps are one literal-constant division and (in the
# small-range branch) one ln().
#
# Hash layout (m = 64 registers, p = 6 bits):
#   idx = h % 64          — register index (low 6 bits)
#   w   = h DIV 64        — 54-bit suffix
#   rho = 1 + count of trailing zero bits of w (55 when w = 0)
# Trailing zeros give the same Geometric(1/2) rho as the canonical
# leading-zero form and stay exact-integer in ANSI SQL (a 54-branch
# CASE over w's low-bit pattern — no log2/floating point anywhere).

HLL_M = 64
_HLL_W_BITS = 54


def hll_rho_sql(w_col: str = "w", bits: int = _HLL_W_BITS) -> str:
    """CASE expression: 1 + trailing-zero count of ``w_col`` (the HLL
    register update), ``bits + 1`` when the suffix is zero. Pure
    integer arithmetic; the string parses identically in Spark SQL
    and DuckDB. Reference the *materialized* w column, never an
    inlined hash expression — the CASE references w once per branch
    and would duplicate an inlined md5 tree 55 times (the wave-41
    codegen-blowup lesson)."""
    branches = " ".join(
        f"WHEN {w_col} % {1 << (k + 1)} = {1 << k} THEN {k + 1}"
        for k in range(bits)
    )
    return f"CASE WHEN {w_col} = 0 THEN {bits + 1} {branches} END"


def hll_alpha(m: int = HLL_M) -> float:
    """The standard HLL bias constant for m >= 64 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, group_col: str, value: str | Column, m: int = HLL_M
) -> DataFrame:
    """Dense HLL register table per group: (group, idx 0..m-1, mrho),
    absent registers filled with rho = 0. One scan -> map-side partial
    MAX per (group, idx) -> a shuffle bounded by groups x m rows; the
    grid fill joins against a groups-x-m frame built from the bounded
    distinct-group set (broadcast)."""
    c = value if isinstance(value, Column) else F.col(value)
    h = df.select(
        F.col(group_col),
        portable_hash60(F.concat(F.lit("hll|"), c.cast("string"))).alias(
            "__hh"
        ),
    )
    f = h.select(
        group_col,
        (F.col("__hh") % m).alias("idx"),
        F.expr(f"__hh DIV {m}").alias("w"),
    )
    regs = (
        f.withColumn("rho", F.expr(hll_rho_sql("w")))
        .groupBy(group_col, "idx")
        .agg(F.max("rho").alias("mrho"))
    )
    grid = (
        df.select(group_col)
        .distinct()
        .select(
            group_col,
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(m - 1).cast("long"))
            ).alias("idx"),
        )
    )
    return grid.join(regs, [group_col, "idx"], "left").select(
        group_col, "idx", F.coalesce("mrho", F.lit(0)).alias("mrho")
    )


def hll_estimate(
    registers: DataFrame, group_col: str, m: int = HLL_M
) -> DataFrame:
    """Cardinality estimate per group from a dense register table:
    (group, register_sum, n_zero_registers, est_distinct). The
    harmonic-mean denominator is carried as the EXACT integer
    sum(2^(55 - rho)) — order-independent, so the estimate is
    bit-reproducible; the small-range (linear-counting) branch kicks
    in below 2.5m exactly as in the HLL paper."""
    num = hll_alpha(m) * m * m * float(1 << (_HLL_W_BITS + 1))
    agg = registers.groupBy(group_col).agg(
        F.sum(
            F.expr(f"SHIFTLEFT(CAST(1 AS BIGINT), {_HLL_W_BITS + 1} - mrho)")
        ).alias("register_sum"),
        F.sum(F.when(F.col("mrho") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_registers"),
    )
    raw = F.lit(num) / F.col("register_sum").cast("double")
    small = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("n_zero_registers").cast("double")
    )
    return agg.select(
        group_col,
        "register_sum",
        "n_zero_registers",
        F.round(
            F.when(
                (raw <= 2.5 * m) & (F.col("n_zero_registers") > 0), small
            ).otherwise(raw),
            6,
        ).alias("est_distinct"),
    )
