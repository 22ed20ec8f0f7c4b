"""Round-8 wave 47 — sketch/curation/eval additions:

- d174 — explicit-register HyperLogLog cardinality per source: the
  registers are plain (source, idx, rho) rows from the portable
  60-bit hash — mergeable with MAX across datasets/engines and
  bit-exact against the DuckDB twin, unlike approx_count_distinct's
  JVM-internal HLL++ state (which can never be value-oracled).
- d175 — URL canonicalization dedup: the C4/Common-Crawl normalizer
  (https, strip userinfo/port/query/fragment/www./trailing slash)
  followed by exact grouping on the canonical key — the piece of the
  URL family d157–d173 didn't cover (those key on host/domain; this
  dedups the *page*).
- d176 — rank-biased overlap (RBO, Webber et al. 2010) between two
  domain rankings (by doc count vs by char mass) at depths 1..10 —
  the top-weighted list-agreement measure that complements d134's
  NDCG (graded relevance) and d133's RRF (fusion): it answers "do
  two corpus-curation orderings agree where it matters?".
- d177 — deterministic Poisson bootstrap over mean document length:
  THE bootstrap that scales (each row draws a hash-derived
  Poisson(1) replicate weight; no resampled copies of the corpus
  ever materialize). Replicate weights come from integer threshold
  comparisons on the portable hash, so both engines agree bit-for-bit.

All URL synthesis here is test scaffolding (the documents table has
no URLs); the operators under test live in ``operators/sketch.py``
and ``operators/domains.py`` and take any column.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import domains, sketch
from ..operators.text import (
    HASH_MOD,
    portable_hash,
    portable_hash_sql,
    portable_hash60,
    portable_hash60_sql,
)
from ..sources.readers import load_table
from .registry import spark_query
from .wave41 import _SUFFIXES, domain_map

# re-exported for tests
HLL_M = sketch.HLL_M


# ---------------------------------------------------------------------------
# d174 — explicit-register HyperLogLog cardinality per source.
# ---------------------------------------------------------------------------
_HLL_NUM = sketch.hll_alpha() * sketch.HLL_M * sketch.HLL_M * float(1 << 55)


def _d174_oracle() -> str:
    m = sketch.HLL_M
    h60 = portable_hash60_sql("'hll|' || text")
    raw = f"({_HLL_NUM!r} / CAST(register_sum AS DOUBLE))"
    return f"""WITH h AS (
      SELECT source, {h60} AS hh FROM documents
    ),
    f AS (
      SELECT source, hh % {m} AS idx, hh // {m} AS w FROM h
    ),
    r AS (
      SELECT source, idx, {sketch.hll_rho_sql('w')} AS rho FROM f
    ),
    reg AS (
      SELECT source, idx, max(rho) AS mrho FROM r GROUP BY source, idx
    ),
    grid AS (
      SELECT s.source, g.idx
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS idx) g
    ),
    dense AS (
      SELECT grid.source, grid.idx, coalesce(reg.mrho, 0) AS mrho
      FROM grid LEFT JOIN reg
        ON grid.source = reg.source AND grid.idx = reg.idx
    ),
    agg AS (
      SELECT source,
             CAST(sum(CAST(1 AS BIGINT) << (55 - mrho)) AS BIGINT)
               AS register_sum,
             CAST(sum(CASE WHEN mrho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_registers
      FROM dense GROUP BY source
    ),
    t AS (
      SELECT source, count(DISTINCT text) AS true_distinct
      FROM documents GROUP BY source
    )
    SELECT agg.source, register_sum, n_zero_registers,
           round(CASE WHEN {raw} <= {2.5 * m!r}
                       AND n_zero_registers > 0
                      THEN {float(m)!r}
                           * ln({float(m)!r}
                                / CAST(n_zero_registers AS DOUBLE))
                      ELSE {raw} END, 6) AS est_distinct,
           CAST(true_distinct AS BIGINT) AS true_distinct
    FROM agg JOIN t ON agg.source = t.source
    ORDER BY agg.source
    """


@spark_query("d174_hll_cardinality", _d174_oracle())
def d174_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-text cardinality per source via explicit-register
    HyperLogLog (m = 64), with the exact distinct count alongside.
    The register table is ordinary rows — sum(2^(55-rho)) is carried
    as an EXACT integer, so the sketch state (not just the estimate)
    is pinned by the oracle. One documents scan -> map-side partial
    MAX per (source, register) -> a shuffle bounded by sources x 64
    rows; cardinality never touches the driver. At 100 TB you'd
    publish the register table per shard and MAX-merge — the sketch
    is engine-portable, unlike approx_count_distinct's binary state."""
    docs = load_table(spark, sf_dir, "documents")
    regs = sketch.hll_registers(docs, "source", "text")
    est = sketch.hll_estimate(regs, "source")
    true = docs.groupBy("source").agg(
        F.countDistinct("text").alias("true_distinct")
    )
    return est.join(true, "source").orderBy("source")


# ---------------------------------------------------------------------------
# d175 — URL canonicalization dedup.
# ---------------------------------------------------------------------------
# Field slices of ONE fresh 60-bit hash (same one-hash discipline as
# wave 41 — per-field hashes blow the codegen method limit). Quotient
# offsets: scheme %4, userinfo %17, sub %3, siteA %13, siteB %13
# (least -> skewed head), suffix %8, port %11, page %11, query %5,
# fragment %7, trailing-slash %3.
_C_SUB = ("", "www.", "m.")
_C_SCH = 1
_C_USR = _C_SCH * 4
_C_SUBF = _C_USR * 17
_C_SITE_A = _C_SUBF * 3
_C_SITE_B = _C_SITE_A * 13
_C_SFX = _C_SITE_B * 13
_C_PRT = _C_SFX * 8
_C_PAGE = _C_PRT * 11
_C_QS = _C_PAGE * 11
_C_FRG = _C_QS * 5
_C_TSL = _C_FRG * 7
_N_PAGES = 11
_N_SITES = 13


def _hcu() -> Column:
    return portable_hash60(
        F.concat(F.lit("curl|"), F.col("doc_id").cast("string"))
    )


def _hcu_sql() -> str:
    return portable_hash60_sql("'curl|' || CAST(doc_id AS VARCHAR)")


def _page_url() -> Column:
    """Deterministic page URL from an ``hcu`` column: every lossless
    canonicalization axis varies (scheme, userinfo, www., port, query
    string, fragment, trailing slash) while the page identity
    (site, suffix, page number, m.-host) stays — so exact groups on
    the canonical key are known in closed form."""

    def fld(k: int, m: int) -> Column:
        return F.expr(f"(hcu DIV {k}) % {m}")

    sub = F.element_at(
        F.array(*[F.lit(s) for s in _C_SUB]),
        (fld(_C_SUBF, len(_C_SUB)) + 1).cast("int"),
    )
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _SUFFIXES]),
        (fld(_C_SFX, len(_SUFFIXES)) + 1).cast("int"),
    )
    site = F.concat(
        F.lit("site"),
        F.least(
            fld(_C_SITE_A, _N_SITES), fld(_C_SITE_B, _N_SITES)
        ).cast("string"),
    )
    return F.concat(
        F.when(fld(_C_SCH, 4) == 0, F.lit("http")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(fld(_C_USR, 17) == 0, F.lit("u:p@")).otherwise(F.lit("")),
        sub,
        site,
        F.lit("."),
        sfx,
        F.when(fld(_C_PRT, 11) == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/p/"),
        fld(_C_PAGE, _N_PAGES).cast("string"),
        F.when(fld(_C_TSL, 3) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(fld(_C_QS, 5) == 0, F.lit("?utm_source=feed&ref=rss"))
        .otherwise(F.lit("")),
        F.when(fld(_C_FRG, 7) == 0, F.lit("#section-2")).otherwise(
            F.lit("")
        ),
    )


def _page_url_sql() -> str:
    subs = ", ".join(f"'{s}'" for s in _C_SUB)
    sfxs = ", ".join(f"'{s}'" for s in _SUFFIXES)
    sub = f"([{subs}])[((hcu // {_C_SUBF}) % {len(_C_SUB)}) + 1]"
    sfx = f"([{sfxs}])[((hcu // {_C_SFX}) % {len(_SUFFIXES)}) + 1]"
    site = (
        f"('site' || CAST(least((hcu // {_C_SITE_A}) % {_N_SITES}, "
        f"(hcu // {_C_SITE_B}) % {_N_SITES}) AS VARCHAR))"
    )
    return (
        f"(CASE WHEN (hcu // {_C_SCH}) % 4 = 0 THEN 'http' "
        f"ELSE 'https' END"
        f" || '://'"
        f" || CASE WHEN (hcu // {_C_USR}) % 17 = 0 THEN 'u:p@' "
        f"ELSE '' END"
        f" || {sub} || {site} || '.' || {sfx}"
        f" || CASE WHEN (hcu // {_C_PRT}) % 11 = 0 THEN ':8443' "
        f"ELSE '' END"
        f" || '/p/' || CAST((hcu // {_C_PAGE}) % {_N_PAGES} AS VARCHAR)"
        f" || CASE WHEN (hcu // {_C_TSL}) % 3 = 0 THEN '/' ELSE '' END"
        f" || CASE WHEN (hcu // {_C_QS}) % 5 = 0 "
        f"THEN '?utm_source=feed&ref=rss' ELSE '' END"
        f" || CASE WHEN (hcu // {_C_FRG}) % 7 = 0 THEN '#section-2' "
        f"ELSE '' END)"
    )


def _d175_oracle() -> str:
    host = domains.url_host_sql("curl")
    return f"""WITH c0 AS (
      SELECT doc_id, {_hcu_sql()} AS hcu FROM documents
    ),
    u AS (
      SELECT doc_id, {_page_url_sql()} AS url FROM c0
    ),
    k AS (
      SELECT doc_id, {domains.canonicalize_url_sql('url')} AS curl FROM u
    ),
    d AS (
      SELECT doc_id, curl,
             {domains.registrable_domain_sql(host)} AS domain
      FROM k
    ),
    g AS (
      SELECT domain, curl, count(*) AS n, min(doc_id) AS keeper
      FROM d GROUP BY domain, curl
    )
    SELECT domain,
           CAST(sum(n) AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_canonical,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dupes,
           CAST(sum(keeper) AS BIGINT) AS kept_key_sum
    FROM g GROUP BY domain ORDER BY domain
    """


@spark_query("d175_url_canonical_dedup", _d175_oracle())
def d175_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact URL dedup after lossless canonicalization
    (``operators/domains.canonicalize_url``: https, strip
    userinfo/port/query/fragment/www./trailing slash), rolled up per
    registrable domain: URL count, canonical-key count, collapsed
    dupes, and the doc_id sum of the per-key keepers (min doc_id) —
    the last column pins WHICH row survives each group. The
    canonicalizer is pure column regex in the scan stage's codegen;
    the dedup is one canonical-key shuffle with map-side partials
    (identical shape to d01 exact dedup), then a domain-bounded
    rollup. No similarity machinery — this is the cheap screen a web
    pipeline runs BEFORE MinHash (d07) ever sees the text."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("hcu", _hcu())
        .withColumn("url", _page_url())
        .withColumn("curl", domains.canonicalize_url(F.col("url")))
        .withColumn(
            "domain",
            domains.registrable_domain(domains.url_host(F.col("curl"))),
        )
    )
    g = d.groupBy("domain", "curl").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("keeper")
    )
    return (
        g.groupBy("domain")
        .agg(
            F.sum("n").alias("n_urls"),
            F.count("*").alias("n_canonical"),
            (F.sum("n") - F.count("*")).alias("n_dupes"),
            F.sum("keeper").alias("kept_key_sum"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# d176 — rank-biased overlap between two domain rankings.
# ---------------------------------------------------------------------------
_RBO_P = 0.9
_RBO_K = 10
_RBO_WTS = [
    (d, (1.0 - _RBO_P) * _RBO_P ** (d - 1)) for d in range(1, _RBO_K + 1)
]


def _d176_oracle() -> str:
    from .wave41 import _base_cte

    wts = ", ".join(f"({d}, {w!r})" for d, w in _RBO_WTS)
    return f"""{_base_cte()},
    c AS (
      SELECT domain, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS mass
      FROM d WHERE domain IS NOT NULL GROUP BY domain
    ),
    r AS (
      SELECT domain,
             row_number() OVER (ORDER BY n DESC, domain) AS ra,
             row_number() OVER (ORDER BY mass DESC, domain) AS rb
      FROM c
    ),
    g AS (SELECT unnest(generate_series(1, {_RBO_K})) AS depth),
    o AS (
      SELECT g.depth,
             CAST(sum(CASE WHEN r.ra <= g.depth AND r.rb <= g.depth
                           THEN 1 ELSE 0 END) AS BIGINT) AS overlap
      FROM g CROSS JOIN r GROUP BY g.depth
    ),
    w AS (SELECT * FROM (VALUES {wts}) AS t(depth, wt))
    SELECT o.depth,
           overlap,
           round(CAST(overlap AS DOUBLE) / o.depth, 6) AS agreement,
           round(sum(wt * (CAST(overlap AS DOUBLE) / o.depth))
                 OVER (ORDER BY o.depth
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS rbo_min_cum
    FROM o JOIN w ON o.depth = w.depth
    ORDER BY o.depth
    """


@spark_query("d176_rank_biased_overlap", _d176_oracle())
def d176_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9) between the by-doc-count and
    by-char-mass domain rankings at depths 1..10: per depth, the
    intersection size, the agreement overlap/depth, and the running
    RBO_min partial sum — "do the two curation orderings agree at the
    head?". The corpus collapses to one row per domain first
    (map-side partials); the two rank windows and the depth
    cross-join then run over a domain-count-bounded table (the d161
    pattern — the single-partition sort is thousands of rows at any
    corpus scale). Depth weights join from a 10-row broadcast literal
    table, identical bits in both engines."""
    dm = domain_map(spark, sf_dir).where(F.col("domain").isNotNull())
    c = dm.groupBy("domain").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("mass")
    )
    r = c.select(
        "domain",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "domain"))
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.col("mass").desc(), "domain"))
        .alias("rb"),
    )
    depths = spark.createDataFrame(
        [(d,) for d in range(1, _RBO_K + 1)], "depth long"
    )
    o = (
        F.broadcast(depths)
        .crossJoin(r)
        .groupBy("depth")
        .agg(
            F.sum(
                F.when(
                    (F.col("ra") <= F.col("depth"))
                    & (F.col("rb") <= F.col("depth")),
                    1,
                ).otherwise(0)
            ).alias("overlap")
        )
    )
    wts = spark.createDataFrame(_RBO_WTS, "depth long, wt double")
    win = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    return (
        o.join(F.broadcast(wts), "depth")
        .select(
            "depth",
            "overlap",
            F.round(
                F.col("overlap").cast("double") / F.col("depth"), 6
            ).alias("agreement"),
            F.round(
                F.sum(
                    F.col("wt")
                    * (F.col("overlap").cast("double") / F.col("depth"))
                ).over(win),
                6,
            ).alias("rbo_min_cum"),
        )
        .orderBy("depth")
    )


# ---------------------------------------------------------------------------
# d177 — deterministic Poisson bootstrap of mean document length.
# ---------------------------------------------------------------------------
_BOOT_R = 20
# Poisson(1) inverse-CDF thresholds scaled to the portable-hash range:
# w = k iff hash < T_k first holds (ELSE 6 beyond the table). Integer
# constants, identical in both engines.
_BOOT_T = []
_cdf = 0.0
for _k in range(6):
    _cdf += math.exp(-1.0) / math.factorial(_k)
    _BOOT_T.append(int(_cdf * HASH_MOD))
del _cdf, _k


def _boot_w_case(u_col: str) -> str:
    branches = " ".join(
        f"WHEN {u_col} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {branches} ELSE 6 END"


def _d177_oracle() -> str:
    u = portable_hash_sql(
        "'boot|' || CAST(g.r AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
    )
    return f"""WITH g AS (
      SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r
    ),
    x AS (
      SELECT g.r, d.n_chars, {u} AS u
      FROM documents d CROSS JOIN g
    ),
    w AS (
      SELECT r, n_chars, {_boot_w_case('u')} AS wt FROM x
    )
    SELECT r AS replicate,
           CAST(sum(wt) AS BIGINT) AS n_eff,
           CAST(sum(wt * n_chars) AS BIGINT) AS weighted_chars,
           round(CAST(sum(wt * n_chars) AS DOUBLE)
                 / CAST(sum(wt) AS DOUBLE), 6) AS mean_chars
    FROM w GROUP BY r ORDER BY r
    """


@spark_query("d177_poisson_bootstrap", _d177_oracle())
def d177_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean document length, 20 replicates: each
    (row, replicate) pair draws a Poisson(1) weight by comparing a
    salted portable hash against precomputed integer inverse-CDF
    thresholds — fully deterministic, so the replicate means are
    value-oracled, and no resampled copy of the corpus ever exists
    (the classic reason Poisson bootstrap IS the cluster bootstrap:
    resample-with-replacement needs global coordination; per-row
    independent weights need none). The 20x row amplification lives
    inside one codegen stage and collapses via map-side partial sums
    -> the shuffle carries 20 rows per input partition; each
    replicate's mean is one exact-integer pair divided once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    x = docs.withColumn(
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))),
    ).withColumn(
        "u",
        portable_hash(
            F.concat(
                F.lit("boot|"),
                F.col("r").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    w = x.withColumn("wt", F.expr(_boot_w_case("u")))
    return (
        w.groupBy("r")
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.sum(F.col("wt") * F.col("n_chars"))
            .cast("long")
            .alias("weighted_chars"),
        )
        .select(
            F.col("r").cast("long").alias("replicate"),
            "n_eff",
            "weighted_chars",
            F.round(
                F.col("weighted_chars").cast("double")
                / F.col("n_eff").cast("double"),
                6,
            ).alias("mean_chars"),
        )
        .orderBy("replicate")
    )
