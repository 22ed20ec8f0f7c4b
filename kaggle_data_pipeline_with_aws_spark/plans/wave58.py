"""Round-9 wave 58 — the PSL as managed data (round-8 verdict #3).

- d201 — registrable-domain resolution with the public-suffix list
  supplied as a broadcast dimension TABLE (``resolve_domains_psl_join``)
  instead of compiled literals, over a rule set that exercises the
  full PSL grammar: normal rules, wildcard ``*.`` rules, exception
  ``!`` rules, comment/blank lines, and the implicit default ``*``.
- d207 — PSL version-drift audit: the same corpus resolved under rule
  list v1 AND v2 (v2 adds a wildcard + exception under a TLD that v1
  resolved via the default rule); the output is the (v1 → v2)
  domain-key transition matrix for every host whose registrable
  domain MOVED. The operational concern is real: Mozilla ships PSL
  updates continuously, and every update silently re-partitions any
  domain-keyed pipeline state (frequency caps, blocklists, dedup
  locality) — this is the audit you run before adopting a new
  version. v1 resolves through the broadcast-join path and v2 through
  the compiled-expression path, so the drift matrix ALSO
  cross-exercises both implementations in one plan.

Cross-implementation by construction: the Spark side resolves through
the per-depth broadcast-join path while the DuckDB oracle resolves the
SAME rule list through ``compile_registrable_domain_sql`` (the
compiled-expression twin) — a hash match certifies the two PSL
implementations against each other on every synthesized host.

The documents table carries no URL, so hosts are synthesized from
``doc_id`` via one 60-bit portable hash (the wave-41 discipline):
subdomain depth 0-3 × 7 site labels × 8 suffixes chosen to hit every
grammar path (known TLD, two-label suffix, wildcard child, exception
override, unknown TLD for the default rule).

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import domains
from ..operators.text import portable_hash60, portable_hash60_sql
from ..sources.readers import load_table
from .registry import spark_query

# The managed rule set (PSL file format, comments and all). A real
# deployment reads the full Mozilla list from a versioned file; the
# resolution path is identical.
PSL_RULES_V1: tuple[str, ...] = (
    "// synthetic PSL v1 (wave 58)",
    "com",
    "uk",
    "co.uk",
    "jp",
    "*.kawasaki.jp",
    "!city.kawasaki.jp",
    "*.ck",
    "!www.ck",
    "",
)

_SUBS = ("", "a.", "b.a.", "www.")
_N_SITES = 7
_SFXS = (
    "com",
    "co.uk",
    "uk",
    "ck",
    "www.ck",
    "kawasaki.jp",
    "city.kawasaki.jp",
    "t9",  # unknown TLD → implicit '*' default rule
)

_F_SITE = len(_SUBS)
_F_SFX = _F_SITE * _N_SITES


def _host() -> Column:
    """Host from the ``huri`` column (one shared hash, wave-41 rule:
    quotient slices use integer DIV — 60 bits exceed double's exact
    range)."""
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _SUBS]),
        (F.pmod(F.col("huri"), len(_SUBS)) + 1).cast("int"),
    )
    site = F.concat(
        F.lit("s"), F.expr(f"(huri DIV {_F_SITE}) % {_N_SITES}").cast("string")
    )
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _SFXS]),
        (F.expr(f"(huri DIV {_F_SFX}) % {len(_SFXS)}") + 1).cast("int"),
    )
    return F.concat(sub, site, F.lit("."), sfx)


def _host_sql() -> str:
    subs = ", ".join(f"'{s}'" for s in _SUBS)
    sfxs = ", ".join(f"'{s}'" for s in _SFXS)
    sub = f"([{subs}])[(huri % {len(_SUBS)}) + 1]"
    site = f"('s' || CAST((huri // {_F_SITE}) % {_N_SITES} AS VARCHAR))"
    sfx = f"([{sfxs}])[((huri // {_F_SFX}) % {len(_SFXS)}) + 1]"
    return f"({sub} || {site} || '.' || {sfx})"


def _d201_oracle() -> str:
    dom = domains.compile_registrable_domain_sql(
        "host", list(PSL_RULES_V1), default_rule=True
    )
    return f"""WITH u AS (
      SELECT doc_id,
             {portable_hash60_sql("'psl|' || CAST(doc_id AS VARCHAR)")} AS huri
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_host_sql()} AS host FROM u
    ),
    d AS (
      SELECT doc_id, host, {dom} AS domain FROM h
    )
    SELECT coalesce(domain, '(public-suffix)') AS domain_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
    FROM d
    GROUP BY 1
    ORDER BY 1
    """


@spark_query("d201_psl_join_resolution", _d201_oracle())
def d201_psl_join_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup with the PSL as a broadcast dimension
    table: host → eTLD+1 via ``resolve_domains_psl_join`` (one tiny
    broadcast hash join per suffix depth, fact side never shuffles),
    then one domain-keyed rollup. Hosts whose registrable domain is
    NULL (the host IS a public suffix — wildcard children included)
    bucket under ``(public-suffix)``.

    The oracle resolves the identical rule list through the compiled-
    expression SQL twin, so the driver's hash match cross-certifies
    the join-path and compiled-path PSL implementations."""
    rules_df = spark.createDataFrame(
        [(r,) for r in PSL_RULES_V1], "rule string"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "huri",
            portable_hash60(
                F.concat(F.lit("psl|"), F.col("doc_id").cast("string"))
            ),
        )
        .withColumn("host", _host())
    )
    resolved = domains.resolve_domains_psl_join(
        docs, "host", rules_df, out_col="domain", default_rule=True
    )
    return (
        resolved.groupBy(
            F.coalesce(F.col("domain"), F.lit("(public-suffix)")).alias(
                "domain_key"
            )
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
        .orderBy("domain_key")
    )


# ---------------------------------------------------------------------------
# d207 — PSL version-drift audit (v1 → v2 transition matrix).
# ---------------------------------------------------------------------------
# v2 ships new rules under t9: v1 resolved *.t9 hosts via the implicit
# default rule (one-label public suffix), v2 makes every direct child
# of t9 a public suffix except s3.t9 — so t9 hosts' registrable
# domains MOVE (deeper key, NULL for bare site hosts, s3.t9 restored
# by the exception).
PSL_RULES_V2: tuple[str, ...] = PSL_RULES_V1 + (
    "// v2: t9 delegated",
    "t9",
    "*.t9",
    "!s3.t9",
)


def _d207_oracle() -> str:
    dom1 = domains.compile_registrable_domain_sql(
        "host", list(PSL_RULES_V1), default_rule=True
    )
    dom2 = domains.compile_registrable_domain_sql(
        "host", list(PSL_RULES_V2), default_rule=True
    )
    return f"""WITH u AS (
      SELECT doc_id,
             {portable_hash60_sql("'psl|' || CAST(doc_id AS VARCHAR)")} AS huri
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_host_sql()} AS host FROM u
    ),
    d AS (
      SELECT doc_id, host, {dom1} AS d1, {dom2} AS d2 FROM h
    )
    SELECT coalesce(d1, '(public-suffix)') AS v1_key,
           coalesce(d2, '(public-suffix)') AS v2_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
    FROM d
    WHERE d1 IS DISTINCT FROM d2
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@spark_query("d207_psl_version_drift", _d207_oracle())
def d207_psl_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v1_key → v2_key) transition matrix of every host whose
    registrable domain changes when the PSL upgrades v1 → v2 — the
    pre-adoption audit for a PSL bump, since every domain-keyed
    pipeline artifact (caps, blocklists, dup locality) silently
    re-partitions under the new rules. One corpus scan: v1 resolves
    through the broadcast-dimension join path, v2 through the
    compiled-expression path (cross-exercising both implementations);
    the diff + rollup is one matrix-sized aggregate, bounded by
    domain-key cardinality, not corpus size."""
    rules_v1 = spark.createDataFrame(
        [(r,) for r in PSL_RULES_V1], "rule string"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "huri",
            portable_hash60(
                F.concat(F.lit("psl|"), F.col("doc_id").cast("string"))
            ),
        )
        .withColumn("host", _host())
    )
    resolved = domains.resolve_domains_psl_join(
        docs, "host", rules_v1, out_col="d1", default_rule=True
    ).withColumn(
        "d2",
        domains.compile_registrable_domain(
            F.col("host"), list(PSL_RULES_V2), default_rule=True
        ),
    )
    return (
        resolved.filter(~F.col("d1").eqNullSafe(F.col("d2")))
        .groupBy(
            F.coalesce(F.col("d1"), F.lit("(public-suffix)")).alias("v1_key"),
            F.coalesce(F.col("d2"), F.lit("(public-suffix)")).alias("v2_key"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
        .orderBy("v1_key", "v2_key")
    )
