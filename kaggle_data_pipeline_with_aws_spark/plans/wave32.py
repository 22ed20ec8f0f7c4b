"""Round-5 wave 32 — three training-data-pipeline staples that were
still missing from the registry:

- d137 — IVF-PQ ADC top-k: the production serving path of a
  compressed ANN index. d20 proved IVF with full-dim rescoring and
  d107 proved the PQ code assignment; this is the piece that makes PQ
  useful — candidates are scored from 4 small ints per vector via a
  broadcast per-query distance table (Asymmetric Distance
  Computation), never touching the raw embeddings after indexing.
- d138 — DSIR-style importance weighting (Xie et al., "Data Selection
  for Language Models via Importance Resampling"): documents scored
  by how target-domain-like their hashed-unigram profile is,
  log p_target(bucket) − log p_raw(bucket) summed over the doc's
  bucket counts. The model is a 64-row broadcast table.
- d139 — deterministic curriculum ordering: easy→hard by token-count
  decile with a reproducible hash shuffle inside each decile, global
  position via the quantile-bucket prefix-sum renumbering (q17/q110
  discipline — no data-sized single-partition window).

Reference parity: none of these exist in the reference (beyond-
reference LLM-data ops per the brief); scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.renumber import contiguous_row_number
from ..operators.text import portable_hash, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


# ---------------------------------------------------------------------------
# d137 — IVF-PQ ADC top-k.
# ---------------------------------------------------------------------------
_N_SUB = 4  # PQ subspaces (same geometry as d107)
_SUB_DIM = 16
_N_CENT = 4  # PQ centroids per subspace  (codebook = vec_id < 4)
_N_COARSE = 8  # IVF coarse cells          (coarse   = vec_id < 8)
_N_QUERY = 6  # fixed query set           (queries  = vec_id < 6)
_N_PROBE = 2
_TOPK = 5


def _l2_sub_sql(va: str, vb: str, s: int) -> str:
    """Rounded squared-L2 over one 16-dim subspace (DuckDB left fold —
    same accumulation order as the Spark ``F.aggregate`` twin)."""
    lo, hi = 1 + s * _SUB_DIM, _SUB_DIM + 1 + s * _SUB_DIM
    return (
        f"round(list_reduce(list_prepend(0.0, "
        f"list_transform(range({lo}, {hi}), "
        f"i -> (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE))"
        f" * (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x), 6)"
    )


def _l2_full_sql(va: str, vb: str) -> str:
    return (
        f"round(list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, 65), "
        f"i -> (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE))"
        f" * (CAST({va}[i] AS DOUBLE) - CAST({vb}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x), 6)"
    )


def _adc_oracle() -> str:
    code_cols = ", ".join(
        f"CAST(max(CASE WHEN s = {k} THEN cid END) AS INT) AS c{k}"
        for k in range(_N_SUB)
    )
    dtab_joins = "\n      ".join(
        f"JOIN dtab t{k} ON t{k}.query_id = cand.query_id"
        f" AND t{k}.s = {k} AND t{k}.cid = cp.c{k}"
        for k in range(_N_SUB)
    )
    adc_sum = " + ".join(f"t{k}.d" for k in range(_N_SUB))
    sub_case = " ".join(
        f"WHEN s.s = {s} THEN {_l2_sub_sql('v.embedding', 'c.cemb', s)}"
        for s in range(_N_SUB)
    )
    qsub_case = " ".join(
        f"WHEN s.s = {s} THEN {_l2_sub_sql('q.qemb', 'c.cemb', s)}"
        for s in range(_N_SUB)
    )
    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      WHERE vec_id < {_N_CENT}
    ),
    coarse AS (
      SELECT vec_id AS ccid, embedding AS ccemb FROM embeddings
      WHERE vec_id < {_N_COARSE}
    ),
    sub AS (SELECT unnest(range(0, {_N_SUB})) AS s),
    q AS (
      SELECT vec_id AS query_id, embedding AS qemb FROM embeddings
      WHERE vec_id < {_N_QUERY}
    ),
    cell_scored AS (
      SELECT v.vec_id, cc.ccid,
             {_l2_full_sql("v.embedding", "cc.ccemb")} AS dist
      FROM embeddings v, coarse cc
    ),
    cells AS (
      SELECT vec_id, ccid AS cell FROM (
        SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist ASC, ccid ASC) AS r
        FROM cell_scored
      ) WHERE r = 1
    ),
    code_scored AS (
      SELECT v.vec_id, s.s, c.cid, CASE {sub_case} END AS dist
      FROM embeddings v, sub s, cents c
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid, row_number() OVER (PARTITION BY vec_id, s
                   ORDER BY dist ASC, cid ASC) AS r
        FROM code_scored
      ) WHERE r = 1
    ),
    codes_p AS (SELECT vec_id, {code_cols} FROM codes GROUP BY vec_id),
    dtab AS (
      SELECT q.query_id, s.s, c.cid, CASE {qsub_case} END AS d
      FROM q, sub s, cents c
    ),
    probe_scored AS (
      SELECT q.query_id, cc.ccid,
             {_l2_full_sql("q.qemb", "cc.ccemb")} AS dist
      FROM q, coarse cc
    ),
    probes AS (
      SELECT query_id, ccid AS cell FROM (
        SELECT query_id, ccid, row_number() OVER (PARTITION BY query_id
                   ORDER BY dist ASC, ccid ASC) AS r
        FROM probe_scored
      ) WHERE r <= {_N_PROBE}
    ),
    cand AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id
      FROM probes p JOIN cells ce ON ce.cell = p.cell
      WHERE ce.vec_id <> p.query_id
    ),
    adc AS (
      SELECT cand.query_id, cand.neighbor_id,
             round({adc_sum}, 6) AS adc_dist
      FROM cand
      JOIN codes_p cp ON cp.vec_id = cand.neighbor_id
      {dtab_joins}
    )
    SELECT query_id, neighbor_id, CAST(adc_dist AS DOUBLE) AS adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
      FROM adc
    ) WHERE rank <= {_TOPK}
    """


def _l2_sub(a, b, s: int):
    return F.round(
        F.aggregate(
            F.zip_with(
                F.slice(a, s * _SUB_DIM + 1, _SUB_DIM),
                F.slice(b, s * _SUB_DIM + 1, _SUB_DIM),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _l2_full(a, b):
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


@spark_query("d137_ivfpq_adc", _adc_oracle())
def d137_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with Asymmetric Distance Computation — the serving path
    that makes a 100 TB vector corpus searchable from RAM. Index side:
    each vector stores a cell id (nearest of 8 coarse centroids) and 4
    PQ codes (d107's geometry) — ~6 bytes, not 256 bytes of floats.
    Query side: a per-query distance table (4 subspaces × 4 centroids
    of rounded sub-L2²) is BROADCAST; candidate score = 4 table
    lookups summed in literal order, so no raw embedding is touched
    after indexing. Probing top-2 of 8 cells bounds candidates to
    ~2/8 of the corpus per query; the final top-k window partitions
    by query over that bounded candidate set. Distances round to 6
    before every argmin/rank with id tiebreaks (engine-stable, the
    d107/d20 discipline). All small sides (codebook, coarse table,
    distance tables, probe list) broadcast; the corpus shuffles only
    to its own narrow (cell, codes) projection."""
    embs = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        embs.filter(F.col("vec_id") < _N_CENT).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
        )
    )
    coarse = F.broadcast(
        embs.filter(F.col("vec_id") < _N_COARSE).select(
            F.col("vec_id").alias("ccid"), F.col("embedding").alias("ccemb")
        )
    )
    qs = embs.filter(F.col("vec_id") < _N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )

    # Index build: one narrow pass over the corpus -> (vec_id, cell,
    # c0..c3). groupBy key is vec_id (unique per row) so Catalyst keeps
    # the argmin aggregates local — no corpus shuffle.
    cells = (
        embs.select("vec_id", "embedding")
        .crossJoin(coarse)
        .select(
            "vec_id",
            "ccid",
            _l2_full(F.col("embedding"), F.col("ccemb")).alias("dist"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "ccid")).alias("b"))
        .select("vec_id", F.col("b.ccid").alias("cell"))
    )
    sub_structs = [
        F.struct(
            F.lit(s).alias("s"),
            _l2_sub(F.col("embedding"), F.col("cemb"), s).alias("dist"),
            F.col("cid"),
        )
        for s in range(_N_SUB)
    ]
    codes = (
        embs.select("vec_id", "embedding")
        .crossJoin(cents)
        .select("vec_id", F.explode(F.array(*sub_structs)).alias("e"))
        .select("vec_id", "e.s", "e.dist", "e.cid")
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .groupBy("vec_id")
        .agg(
            *[
                F.max(F.when(F.col("s") == k, F.col("b.cid")))
                .cast("int")
                .alias(f"c{k}")
                for k in range(_N_SUB)
            ]
        )
    )

    # Query side: distance tables and probe lists are a handful of rows.
    q_structs = [
        F.struct(
            F.lit(s).alias("s"),
            _l2_sub(F.col("qemb"), F.col("cemb"), s).alias("d"),
            F.col("cid"),
        )
        for s in range(_N_SUB)
    ]
    dtab = (
        qs.crossJoin(cents)
        .select("query_id", F.explode(F.array(*q_structs)).alias("e"))
        .select("query_id", "e.s", "e.d", "e.cid")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("ccid").asc()
    )
    probes = (
        qs.crossJoin(coarse)
        .select(
            "query_id",
            "ccid",
            _l2_full(F.col("qemb"), F.col("ccemb")).alias("dist"),
        )
        .withColumn("r", F.row_number().over(probe_w))
        .filter(F.col("r") <= _N_PROBE)
        .select("query_id", F.col("ccid").alias("cell"))
    )

    # probes is n_queries × n_probe rows — BROADCAST it so the
    # data-sized cells table streams through unshuffled (an SMJ here
    # would repartition the whole corpus onto ≤8 cell-key values).
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    # ADC: four broadcast lookups, summed in LITERAL order (matches the
    # oracle's t0.d + t1.d + t2.d + t3.d — no unordered float reduce).
    scored = cand
    for k in range(_N_SUB):
        tk = F.broadcast(
            dtab.filter(F.col("s") == k).select(
                F.col("query_id").alias(f"__q{k}"),
                F.col("cid").alias(f"__c{k}"),
                F.col("d").alias(f"dt{k}"),
            )
        )
        scored = scored.join(
            tk,
            (F.col("query_id") == F.col(f"__q{k}"))
            & (F.col(f"c{k}") == F.col(f"__c{k}")),
        ).drop(f"__q{k}", f"__c{k}")
    adc = scored.select(
        "query_id",
        "neighbor_id",
        F.round(
            F.col("dt0") + F.col("dt1") + F.col("dt2") + F.col("dt3"), 6
        ).alias("adc_dist"),
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# d138 — DSIR-style hashed importance weighting.
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 64
_DSIR_TARGET = "src0"


def _dsir_oracle() -> str:
    b = _DSIR_BUCKETS
    return f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    t AS (
      SELECT doc_id, source, {portable_hash_sql("term", b)} AS b
      FROM tok WHERE term <> ''
    ),
    bc AS (
      SELECT b,
             sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN source <> '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
      FROM t GROUP BY b
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
    ratio AS (
      SELECT b,
             round(log2(((ct + 1) / (nt + {b}.0))
                        / ((cr + 1) / (nr + {b}.0))), 6) AS r
      FROM bc, tot
    ),
    db AS (SELECT doc_id, b, count(*) AS n FROM t GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(round(sum(n * r), 6) + 0.0 AS DOUBLE) AS dsir_weight,
           CAST(round(sum(n * r), 6) > 0 AS BOOLEAN) AS target_like
    FROM db JOIN ratio USING (b)
    GROUP BY doc_id
    """


@spark_query("d138_dsir_importance", _dsir_oracle())
def d138_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR): score every
    document by how target-domain-like its hashed-unigram profile is —
    weight = Σ_buckets n_doc(b) · log2(p_target(b)/p_raw(b)) with
    add-one smoothing over {_DSIR_BUCKETS} hash buckets (the paper
    uses the same shape at 10k buckets). The 'model' is a
    bucket-count table: {_DSIR_BUCKETS} rows, BROADCAST — at 100 TB
    the corpus is read once for bucket totals (map-side partial to 64
    groups, near-zero shuffle) and once for per-doc bucket counts
    (partial-agg'd on (doc_id, bucket)); there is no per-token join
    against a vocabulary-sized model (contrast d33). `+ 0.0`
    canonicalizes a possible IEEE −0.0 from cancellation so both
    engines hash identically."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .select(
            "doc_id",
            "source",
            portable_hash(F.col("term"), _DSIR_BUCKETS).alias("b"),
        )
    )
    bc = tok.groupBy("b").agg(
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)
        ).alias("ct"),
        F.sum(
            F.when(F.col("source") != _DSIR_TARGET, 1).otherwise(0)
        ).alias("cr"),
    )
    tot = bc.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    ratio = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log2(
                ((F.col("ct") + 1) / (F.col("nt") + F.lit(float(_DSIR_BUCKETS))))
                / ((F.col("cr") + 1) / (F.col("nr") + F.lit(float(_DSIR_BUCKETS))))
            ),
            6,
        ).alias("r"),
    )
    db = tok.groupBy("doc_id", "b").agg(F.count("*").alias("n"))
    w = F.round(F.sum(F.col("n") * F.col("r")), 6)
    return (
        db.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            (w + F.lit(0.0)).alias("dsir_weight"),
            (w > 0).alias("target_like"),
        )
    )


# ---------------------------------------------------------------------------
# d139 — deterministic curriculum ordering.
# ---------------------------------------------------------------------------
_DECILES = 10
_SHIFT = 2_147_483_648  # 2^31 > HASH_MOD, keeps (decile, h) order in one long


def _curriculum_oracle() -> str:
    h = portable_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
      FROM documents
    ),
    n AS (SELECT count(*) AS total FROM d),
    r AS (
      SELECT doc_id, tok_n,
             row_number() OVER (ORDER BY tok_n ASC, doc_id ASC) AS rk
      FROM d
    ),
    dec AS (
      SELECT doc_id, tok_n,
             CAST(ceil(rk * {_DECILES} / CAST(total AS DOUBLE)) AS BIGINT)
               AS decile,
             {h} AS hsh
      FROM r, n
    )
    SELECT doc_id, tok_n, decile,
           CAST(row_number() OVER (
               ORDER BY decile * {_SHIFT} + hsh ASC, doc_id ASC)
             AS BIGINT) AS curriculum_pos
    FROM dec
    """


@spark_query("d139_curriculum_order", _curriculum_oracle())
def d139_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: train easy→hard (token-count deciles)
    with a REPRODUCIBLE shuffle inside each stage — the training-prep
    step that fixes global sample order across re-runs and engines.
    Both global orderings use `contiguous_row_number`'s quantile-
    bucket prefix-sum (q17/q110 discipline): the decile rank leads on
    tok_n; the curriculum position leads on the single long surrogate
    decile·2³¹ + hash(doc_id) — well-spread, so the quantile cuts
    stay balanced instead of collapsing onto 10 decile values. No
    data-sized single-partition window at any scale; the hash shuffle
    is md5-portable (identical in the DuckDB oracle and on task
    retry)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_size(F.split(F.col("text"), " ")).cast("long").alias("tok_n"),
    )
    total = d.agg(F.count("*").alias("total"))
    ranked = contiguous_row_number(
        d, [F.col("tok_n"), F.col("doc_id")], out_col="rk"
    )
    dec = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tok_n",
            F.ceil(
                F.col("rk") * _DECILES / F.col("total").cast("double")
            )
            .cast("long")
            .alias("decile"),
            portable_hash(F.col("doc_id").cast("string")).alias("hsh"),
        )
        .withColumn(
            "ordkey", F.col("decile") * F.lit(_SHIFT) + F.col("hsh")
        )
    )
    return contiguous_row_number(
        dec,
        [F.col("ordkey"), F.col("doc_id")],
        out_col="curriculum_pos",
    ).select("doc_id", "tok_n", "decile", "curriculum_pos")
