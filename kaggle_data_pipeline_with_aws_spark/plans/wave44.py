"""Round-8 wave 44 — domain boilerplate and concentration views:

- d168 — per-domain template (boilerplate) shingles: a shingle that
  appears in at least half a domain's documents (and ≥ 2 of them) is
  template text — nav bars, footers, licence blurbs — the C4-style
  boilerplate signal a curation run strips before content filters.
  All integer comparisons (df·2 ≥ n_docs), one exact division at the
  end for the template mass share.
- d169 — domain coverage curve: how many domains cover 50% / 90% /
  99% of the corpus — the one-screen concentration summary behind
  d161's full ranking (how head-heavy is this crawl?).

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import spark_query
from .wave41 import _base_cte, domain_map

_COVER_PCTS = (50, 90, 99)


# ---------------------------------------------------------------------------
# d168 — per-domain template shingles.
# ---------------------------------------------------------------------------
def _d168_oracle() -> str:
    return f"""{_base_cte()},
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    dm AS MATERIALIZED (SELECT doc_id, domain FROM d),
    ddocs AS (SELECT domain, count(*) AS n_docs FROM dm GROUP BY domain),
    dfd AS MATERIALIZED (
      SELECT dm.domain, sh.shingle, CAST(count(*) AS BIGINT) AS df_dom
      FROM sh JOIN dm ON sh.doc_id = dm.doc_id
      GROUP BY 1, 2
    )
    SELECT dfd.domain,
           CAST(any_value(ddocs.n_docs) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df_dom >= 2
                     AND df_dom * 2 >= ddocs.n_docs
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_template,
           round(CAST(sum(CASE WHEN df_dom >= 2
                          AND df_dom * 2 >= ddocs.n_docs
                          THEN df_dom ELSE 0 END) AS DOUBLE)
                 / sum(df_dom), 6) AS template_mass
    FROM dfd JOIN ddocs ON dfd.domain = ddocs.domain
    GROUP BY dfd.domain
    ORDER BY dfd.domain
    """


@spark_query("d168_domain_template_shingles", _d168_oracle())
def d168_domain_template_shingles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate detector: per registrable domain, how many distinct
    3-gram shingles are TEMPLATE (present in ≥ half the domain's docs,
    and in ≥ 2) and what share of the domain's shingle mass they carry.
    The shingle table comes from the shared substrate derivation shape
    (distinct per-doc 3-grams); the rollup is (domain, shingle)-keyed
    with map-side partials — template-ness is an integer comparison
    against the domain doc count, and the mass share is ONE exact
    integer division per domain."""
    from ..operators.dedup import shingle_table
    from ..sources.readers import load_table

    sh = shingle_table(load_table(spark, sf_dir, "documents"), "text", 3)
    dm = domain_map(spark, sf_dir).select("doc_id", "domain")
    ddocs = dm.groupBy("domain").agg(F.count("*").alias("n_docs"))
    dfd = (
        sh.join(dm, "doc_id")
        .groupBy("domain", "shingle")
        .agg(F.count("*").cast("long").alias("df_dom"))
    )
    is_t = (F.col("df_dom") >= 2) & (
        F.col("df_dom") * 2 >= F.col("n_docs")
    )
    return (
        dfd.join(F.broadcast(ddocs), "domain")
        .groupBy("domain")
        .agg(
            F.first("n_docs").cast("long").alias("n_docs"),
            F.count("*").alias("n_shingles"),
            F.sum(F.when(is_t, 1).otherwise(0)).alias("n_template"),
            F.round(
                F.sum(F.when(is_t, F.col("df_dom")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("df_dom"),
                6,
            ).alias("template_mass"),
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# d169 — domain coverage curve.
# ---------------------------------------------------------------------------
def _d169_oracle() -> str:
    grid = ", ".join(f"({p})" for p in _COVER_PCTS)
    return f"""{_base_cte()},
    c AS (SELECT domain, count(*) AS n_docs FROM d GROUP BY domain),
    r AS MATERIALIZED (
      SELECT domain, n_docs,
             row_number() OVER (ORDER BY n_docs DESC, domain) AS rk,
             sum(n_docs) OVER (ORDER BY n_docs DESC, domain) AS cum
      FROM c
    ),
    t AS (SELECT sum(n_docs) AS total FROM c),
    g(p) AS (VALUES {grid}),
    hit AS (
      SELECT g.p, min(r.rk) AS k
      FROM g, r, t
      WHERE r.cum * 100 >= g.p * t.total
      GROUP BY g.p
    )
    SELECT round(hit.p / 100.0, 2) AS target_share,
           CAST(hit.k AS BIGINT) AS n_domains,
           round(CAST(r.cum AS DOUBLE) / t.total, 6) AS covered_share
    FROM hit JOIN r ON r.rk = hit.k, t
    ORDER BY 1
    """


@spark_query("d169_domain_coverage_curve", _d169_oracle())
def d169_domain_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Concentration summary: the minimal number of domains whose
    documents cover 50% / 90% / 99% of the corpus, with the exact
    share those domains reach. The corpus collapses to per-domain
    counts first; the rank/cumulative window and the 3-row target
    grid run over the domain-bounded table (all-integer threshold
    compare: cum·100 ≥ p·total)."""
    d = domain_map(spark, sf_dir).select("doc_id", "domain")
    c = d.groupBy("domain").agg(F.count("*").alias("n_docs"))
    w = Window.orderBy(F.col("n_docs").desc(), F.col("domain"))
    unb = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = c.select(
        "domain",
        "n_docs",
        F.row_number().over(w).alias("rk"),
        F.sum("n_docs")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("n_docs").over(unb).alias("total"),
    )
    grid = F.explode(
        F.array(*[F.lit(p) for p in _COVER_PCTS])
    ).alias("p")
    hit = (
        r.select("rk", "cum", "total", grid)
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("total"))
        .groupBy("p")
        .agg(F.min("rk").alias("k"))
    )
    return (
        hit.join(r, hit["k"] == r["rk"])
        .select(
            F.round(F.col("p") / 100.0, 2).alias("target_share"),
            F.col("k").cast("long").alias("n_domains"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "covered_share"
            ),
        )
        .orderBy("target_share")
    )
