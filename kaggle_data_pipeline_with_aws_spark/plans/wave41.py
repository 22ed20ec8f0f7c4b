"""Round-8 wave 41 — URL/domain-level curation family (the round-7
verdict's #1 ask: the C4/RefinedWeb staple missing from the LLM-data
surface):

- d157 — registrable-domain extraction audit: URL → canonical host →
  eTLD+1 against a public-suffix rule set, rolled up per domain.
- d158 — per-domain frequency cap: keep ≤ CAP docs per domain with a
  deterministic salted-hash selection (WindowGroupLimit shape).
- d159 — domain blocklist screen: broadcast anti-join vs a blocklist,
  per-source pass/drop accounting.
- d160 — per-domain quality rollup: token/char/short-doc profile per
  registrable domain — the table a curation run reads to pick caps.
- d161 — domain heavy-hitter skew profile: rank/share/cumulative
  share per domain — domains are THE heavy-hitter key of web corpora
  (composes with d148's generic join-key skew report).

The documents table carries no URL, so every query assigns one
deterministically from ``doc_id`` — all fields sliced from ONE 60-bit
portable md5 hash (identical in both engines; see the field constants
below): skewed site ids (min of two uniform slices → linearly
decaying frequency, a heavy-hitter head), 8 public suffixes including
two-label ones, multi-label subdomains, occasional userinfo/port/http
— every path of the host parser is exercised. The synthesis is test
scaffolding; the operators under test live in ``operators/domains.py``
and take any URL column. The resolved doc→domain map is published
once per dataset as a substrate artifact (``domain_map``) and every
consumer reads it.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import domains
from ..operators.text import portable_hash_sql, token_count
from ..sources.readers import load_table
from .registry import spark_query


_SUFFIXES = ("com", "org", "net", "io", "edu", "gov", "co.uk", "ac.uk")
_SUBS = ("", "www.", "blog.", "m.", "cdn.static.")
_N_SITES = 13
_CAP = 3
_SHORT_CHARS = 120
_HEAVY_SHARE = 0.02
_BLOCKLIST = ("site0.com", "site0.co.uk", "site1.net", "site2.ac.uk")


# All URL fields slice ONE 60-bit portable hash (modular arithmetic on
# disjoint quotient ranges) instead of one md5 chain per field: the
# url→host→domain derivation re-references its inputs several times,
# and Catalyst's project collapsing can inline each reference — with
# per-field hashes the duplicated md5 trees blew the generated
# processNext() past the JVM 64 KB method limit (codegen fell back to
# interpreted). One hash keeps every duplicate cheap; the whole
# derivation stays inside WholeStageCodegen.
_F_SUB = 1
_F_SFX = _F_SUB * 5  # // 5
_F_SITE_A = _F_SFX * 8
_F_SITE_B = _F_SITE_A * 13
_F_SCH = _F_SITE_B * 13
_F_USR = _F_SCH * 4
_F_PRT = _F_USR * 17
_F_PATH = _F_PRT * 11
_N_PATH_SECTIONS = 6


def _huri() -> Column:
    from ..operators.text import portable_hash60

    return portable_hash60(
        F.concat(F.lit("url|"), F.col("doc_id").cast("string"))
    )


def _huri_sql() -> str:
    from ..operators.text import portable_hash60_sql

    return portable_hash60_sql("'url|' || CAST(doc_id AS VARCHAR)")


def synthetic_url_from_huri() -> Column:
    """Deterministic URL from a ``huri`` column (see module docstring
    for the shape coverage). Quotient slices use integer ``DIV`` —
    the 60-bit hash exceeds double's exact range, so ``/`` would
    corrupt the high fields."""

    def fld(k: int, m: int) -> Column:
        return F.expr(f"(huri DIV {k}) % {m}")

    sub = F.element_at(
        F.array(*[F.lit(s) for s in _SUBS]),
        (fld(_F_SUB, len(_SUBS)) + 1).cast("int"),
    )
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _SUFFIXES]),
        (fld(_F_SFX, len(_SUFFIXES)) + 1).cast("int"),
    )
    site = F.concat(
        F.lit("site"),
        F.least(
            fld(_F_SITE_A, _N_SITES), fld(_F_SITE_B, _N_SITES)
        ).cast("string"),
    )
    scheme = F.when(fld(_F_SCH, 4) == 0, F.lit("http")).otherwise(
        F.lit("https")
    )
    user = F.when(fld(_F_USR, 17) == 0, F.lit("u:p@")).otherwise(F.lit(""))
    port = F.when(fld(_F_PRT, 11) == 0, F.lit(":8443")).otherwise(
        F.lit("")
    )
    section = F.concat(
        F.lit("/s"),
        fld(_F_PATH, _N_PATH_SECTIONS).cast("string"),
    )
    return F.concat(
        scheme,
        F.lit("://"),
        user,
        sub,
        site,
        F.lit("."),
        sfx,
        port,
        section,
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )


def _url_sql() -> str:
    """DuckDB twin of ``synthetic_url_from`` over the ``huri`` column
    (integer // and % — exact BIGINT arithmetic in both engines)."""
    subs = ", ".join(f"'{s}'" for s in _SUBS)
    sfxs = ", ".join(f"'{s}'" for s in _SUFFIXES)
    sub = f"([{subs}])[(huri % {len(_SUBS)}) + 1]"
    sfx = f"([{sfxs}])[((huri // {_F_SFX}) % {len(_SUFFIXES)}) + 1]"
    site = (
        f"('site' || CAST(least((huri // {_F_SITE_A}) % {_N_SITES}, "
        f"(huri // {_F_SITE_B}) % {_N_SITES}) AS VARCHAR))"
    )
    return (
        f"(CASE WHEN (huri // {_F_SCH}) % 4 = 0 THEN 'http' "
        f"ELSE 'https' END"
        f" || '://'"
        f" || CASE WHEN (huri // {_F_USR}) % 17 = 0 THEN 'u:p@' "
        f"ELSE '' END"
        f" || {sub} || {site} || '.' || {sfx}"
        f" || CASE WHEN (huri // {_F_PRT}) % 11 = 0 THEN ':8443' "
        f"ELSE '' END"
        f" || '/s' || CAST((huri // {_F_PATH}) % {_N_PATH_SECTIONS}"
        f" AS VARCHAR)"
        f" || '/d/' || CAST(doc_id AS VARCHAR))"
    )


def _base_cte() -> str:
    """Shared oracle prefix: documents + huri + url + host + domain.
    Each CTE is referenced exactly once by the next (no re-inlining
    blow-up; the materialization rule doesn't bite)."""
    return f"""WITH u0 AS (
      SELECT doc_id, source, text, n_chars, {_huri_sql()} AS huri
      FROM documents
    ),
    u AS (
      SELECT doc_id, source, text, n_chars, {_url_sql()} AS url
      FROM u0
    ),
    h AS (
      SELECT doc_id, source, text, n_chars, url,
             {domains.url_host_sql('url')} AS host
      FROM u
    ),
    d AS (
      SELECT doc_id, source, text, n_chars, url, host,
             {domains.registrable_domain_sql('host')} AS domain,
             {domains.url_path_sql('url')} AS path
      FROM h
    )"""


_DM_VERSION = "v4"  # v3: + path section segment; v4: transaction-logged table


def _domain_map_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builder: one documents scan → slim (doc_id, source, n_chars,
    url, host, domain, path) rows; the whole derivation is pure
    column expressions in one codegen projection."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("huri", _huri())
        .withColumn("url", synthetic_url_from_huri())
        .withColumn("host", domains.url_host(F.col("url")))
        .withColumn("domain", domains.registrable_domain(F.col("host")))
        .withColumn("path", domains.url_path(F.col("url")))
        .drop("huri")
    )


def domain_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc→domain map as a published substrate artifact (build
    once, read many): ~11 registered queries key on the registrable
    domain, and at corpus scale you resolve URL→host→domain exactly
    once, publish the slim map (no text column), and every consumer
    scans plain columns — which also keeps each consumer's generated
    code small (the inlined url→host→domain tree, duplicated through
    window/aggregate stages, grew past the JVM 64 KB method limit and
    dropped those stages out of whole-stage codegen)."""
    from ..operators import substrate_store

    return substrate_store.materialize_once(
        spark,
        "domain_map",
        _DM_VERSION,
        sf_dir,
        lambda: _domain_map_plan(spark, sf_dir),
    )


def _with_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the oracle's ``d`` CTE: the published domain map
    re-joined with the text column (only the consumers that score
    text pay this doc_id-keyed join)."""
    return domain_map(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )


# ---------------------------------------------------------------------------
# d157 — registrable-domain extraction audit.
# ---------------------------------------------------------------------------
def _d157_oracle() -> str:
    return f"""{_base_cte()}
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(sum(CASE WHEN host <> domain THEN 1 ELSE 0 END)
                AS BIGINT) AS n_subdomain_docs,
           CAST(sum(CASE WHEN url LIKE 'http://%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_insecure_docs
    FROM d
    GROUP BY domain
    ORDER BY domain
    """


@spark_query("d157_registrable_domains", _d157_oracle())
def d157_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per registrable domain (eTLD+1 under the embedded public-suffix
    subset): document count, distinct canonical hosts, how many docs
    live on a subdomain, and how many arrived over plain http. The
    whole URL→host→domain derivation is regex + array column exprs in
    ONE codegen stage over one documents scan; the rollup is one
    domain-keyed shuffle with map-side partials — domain cardinality,
    not corpus size, bounds the result at any scale."""
    d = domain_map(spark, sf_dir)
    return (
        d.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum(
                F.when(F.col("host") != F.col("domain"), 1).otherwise(0)
            ).alias("n_subdomain_docs"),
            F.sum(
                F.when(F.col("url").startswith("http://"), 1).otherwise(0)
            ).alias("n_insecure_docs"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# d158 — per-domain frequency cap.
# ---------------------------------------------------------------------------
def _d158_oracle() -> str:
    cap_hash = portable_hash_sql("'cap|' || CAST(doc_id AS VARCHAR)")
    return f"""{_base_cte()},
    ranked AS (
      SELECT domain, doc_id,
             row_number() OVER (PARTITION BY domain
                 ORDER BY {cap_hash}, doc_id) AS rn
      FROM d
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= {_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {_CAP} THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_key_sum
    FROM ranked
    GROUP BY domain
    ORDER BY domain
    """


@spark_query("d158_domain_frequency_cap", _d158_oracle())
def d158_domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap (keep ≤ CAP docs per registrable
    domain, deterministic salted-hash selection): per domain, the
    pre-cap count, the kept count, and the doc_id sum of the kept set
    — the last column pins WHICH rows survived, not just how many.
    The cap itself is ``operators/domains.cap_per_domain``: a
    row_number ≤ k window that Spark executes as WindowGroupLimit
    (rank limit applied map-side per partition before the shuffle), so
    a hot domain ships k rows per input partition, never its full
    posting list."""
    d = domain_map(spark, sf_dir).select("doc_id", "domain")
    kept = domains.cap_per_domain(d, "domain", "doc_id", _CAP)
    totals = d.groupBy("domain").agg(F.count("*").alias("n_total"))
    kept_agg = kept.groupBy("domain").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("kept_key_sum"),
    )
    # cap ≥ 1 ⇒ every domain keeps at least one row: inner join is safe
    return totals.join(kept_agg, "domain").orderBy("domain")


# ---------------------------------------------------------------------------
# d159 — domain blocklist screen.
# ---------------------------------------------------------------------------
def _d159_oracle() -> str:
    bl = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    return f"""{_base_cte()}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN domain IN ({bl}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN domain IN ({bl}) THEN 0 ELSE 1 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN domain IN ({bl}) THEN 0 ELSE n_chars END)
                AS BIGINT) AS chars_kept
    FROM d
    GROUP BY source
    ORDER BY source
    """


@spark_query("d159_domain_blocklist_screen", _d159_oracle())
def d159_domain_blocklist_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocklist screen accounting: per source, how many documents a
    registrable-domain blocklist removes and what survives (count +
    char mass). The screen is ``operators/domains.blocklist_screen``
    — a broadcast LEFT ANTI equi-join (the blocklist is dimension-
    sized; the corpus never shuffles for it); the pre/post counts
    join on the bounded source key."""
    d = domain_map(spark, sf_dir).select("doc_id", "source", "n_chars",
                                         "domain")
    blocked = spark.createDataFrame(
        [(b,) for b in _BLOCKLIST], "domain string"
    )
    kept = domains.blocklist_screen(d, "domain", blocked)
    totals = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    kept_agg = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "n_docs",
            (
                F.col("n_docs") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_blocked"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("chars_kept"), F.lit(0)).alias("chars_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# d160 — per-domain quality rollup.
# ---------------------------------------------------------------------------
def _d160_oracle() -> str:
    return f"""{_base_cte()}
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
           round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6)
             AS avg_tokens,
           round(sum(CASE WHEN n_chars < {_SHORT_CHARS} THEN 1.0
                     ELSE 0.0 END) / count(*), 6) AS short_share
    FROM d
    GROUP BY domain
    ORDER BY domain
    """


@spark_query("d160_domain_quality_rollup", _d160_oracle())
def d160_domain_quality_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The table a curation run reads to set per-domain policy: doc
    count, source spread, mean chars, mean whitespace tokens, and the
    short-document share per registrable domain. One documents scan,
    one domain-keyed shuffle with map-side partials; all measures are
    exact-integer sums divided once at the end (order-independent)."""
    d = _with_domain(spark, sf_dir)
    return (
        d.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias(
                "avg_chars"
            ),
            F.round(
                F.avg(token_count("text").cast("double")), 6
            ).alias("avg_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("n_chars") < _SHORT_CHARS, 1.0).otherwise(
                        0.0
                    )
                )
                / F.count("*"),
                6,
            ).alias("short_share"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# d161 — domain heavy-hitter skew profile.
# ---------------------------------------------------------------------------
def _d161_oracle() -> str:
    return f"""{_base_cte()},
    c AS (
      SELECT domain, count(*) AS n_docs FROM d GROUP BY domain
    ),
    t AS (SELECT sum(n_docs) AS total FROM c)
    SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, domain)
                AS BIGINT) AS dom_rank,
           domain,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(CAST(n_docs AS DOUBLE) / total, 6) AS share,
           round(CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, domain)
                      AS DOUBLE) / total, 6) AS cum_share,
           round(CAST(n_docs AS DOUBLE) / total, 6) >= {_HEAVY_SHARE}
             AS heavy
    FROM c, t
    ORDER BY dom_rank
    """


@spark_query("d161_domain_skew_profile", _d161_oracle())
def d161_domain_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domains ranked by document count with share, cumulative share,
    and a heavy-hitter flag — the skew evidence a planner consults
    before choosing a salting strategy for domain-keyed work (d148's
    generic join-key report, specialized to THE skewed key of web
    corpora). The corpus collapses to one row per domain first
    (map-side partials); the rank/cumulative window then runs over a
    domain-count-bounded table — the single-partition sort is over
    thousands of rows at any corpus scale, never documents."""
    d = domain_map(spark, sf_dir)
    c = d.groupBy("domain").agg(F.count("*").alias("n_docs"))
    w = Window.orderBy(F.col("n_docs").desc(), F.col("domain"))
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum("n_docs").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    share = F.round(F.col("n_docs").cast("double") / total, 6)
    return (
        c.select(
            F.row_number().over(w).cast("long").alias("dom_rank"),
            "domain",
            "n_docs",
            share.alias("share"),
            F.round(
                F.sum("n_docs").over(wsum).cast("double") / total, 6
            ).alias("cum_share"),
            (share >= _HEAVY_SHARE).alias("heavy"),
        )
        .orderBy("dom_rank")
    )
