"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis, multimodal — registered with DuckDB oracle twins wherever the
semantics are SQL-expressible (everywhere except the probabilistic
scale-path variants, which get rows-only checks).

Oracle SQL for the hash-based ops (minhash, simhash) is *generated* from
the same constants the Spark operators use — one source of truth in
operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, text
from ..operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PARAMS,
    NUM_HASHES,
    SIMHASH_BITS,
)
from ..operators.text import HASH_MOD, portable_hash_sql
from ..sources.readers import load_table
from .registry import spark_query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@spark_query(
    "d01_dedup_exact",
    """
    SELECT text, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------
@spark_query(
    "d02_token_count",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def d02_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 + portable rolling hash)
# ---------------------------------------------------------------------------
@spark_query(
    "d03_fingerprint",
    f"""
    SELECT doc_id,
           md5(text) AS md5_fingerprint,
           {portable_hash_sql("text")} AS rolling_hash
    FROM documents
    """,
)
def d03_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------
_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS_EN) + "]"


@spark_query(
    "d04_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             length(text) AS nc
      FROM documents
    )
    SELECT doc_id,
           CAST(nc AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CASE WHEN len(toks) > 0
                      THEN CAST(nc AS DOUBLE) / len(toks) ELSE 0 END, 6)
             AS mean_token_len,
           round(CASE WHEN len(toks) > 0
                      THEN CAST(len(list_filter(toks,
                           x -> list_contains({_STOP_LIST_SQL}, x))) AS DOUBLE)
                           / len(toks)
                      ELSE 0 END, 6) AS stopword_ratio,
           round(CASE WHEN nc > 0
                      THEN CAST(nc - length(regexp_replace(text,
                           '[^\\w\\s]', '', 'g')) AS DOUBLE) / nc
                      ELSE 0 END, 6) AS punct_ratio
    FROM t
    """,
)
def d04_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Language ID (marker-word argmax)
# ---------------------------------------------------------------------------
def _lang_id_oracle() -> str:
    structs = []
    for lang, words in sorted(text.LANG_MARKERS.items()):
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        structs.append(
            f"{{'neg_hits': -len(list_filter(toks, x -> list_contains({lst}, x))),"
            f" 'lang': '{lang}'}}"
        )
    arr = "[" + ", ".join(structs) + "]"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    best AS (SELECT doc_id, list_min({arr}) AS b FROM t)
    SELECT doc_id, b.lang AS predicted_lang,
           CAST(-b.neg_hits AS BIGINT) AS marker_hits
    FROM best
    """


@spark_query("d05_lang_id", _lang_id_oracle())
def d05_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------
@spark_query(
    "d06_ngram_jaccard",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id_1, doc_id_2, n_common,
           round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6)
             AS jaccard
    FROM inter
    JOIN cnt ca ON inter.doc_id_1 = ca.doc_id
    JOIN cnt cb ON inter.doc_id_2 = cb.doc_id
    WHERE round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6) >= 0.8
    """,
)
def d06_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard PPJoin, served from the shared ranked-
    shingle substrate (round 6): the explode + document-frequency
    groupBy + rank window are paid once per dataset by the artifact
    builder; this consumer starts at the artifact scan.
    ``dedup.ngram_jaccard_pairs`` remains the standalone semantic twin
    (equivalence pinned in tests/test_text_substrate.py)."""
    from ..operators import text_substrate

    return text_substrate.jaccard_pairs(spark, sf_dir, threshold=0.8)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pairs (portable hash → full oracle)
# ---------------------------------------------------------------------------
def _minhash_sig_sql() -> str:
    sh_hash = portable_hash_sql("shingle")
    mins = ",\n           ".join(
        f"min(({a} * sh + {b}) % {HASH_MOD}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    ),
    shh AS (SELECT doc_id, {sh_hash} % {HASH_MOD} AS sh FROM sh0),
    sigs AS (
      SELECT doc_id,
           {mins}
      FROM shh GROUP BY doc_id
    )"""


def _minhash_pairs_cte(threshold: float = 0.5) -> str:
    """The full WITH-chain ending in ``pairs(doc_id_1, doc_id_2,
    est_jaccard)`` — shared by the pair query (d07) and the
    connected-components query (d31)."""
    band_selects = []
    for bi in range(LSH_BANDS):
        cols = [f"h{i}" for i in range(bi * LSH_ROWS, (bi + 1) * LSH_ROWS)]
        key = " || '-' || ".join([f"'{bi}'"] + [f"CAST({c} AS VARCHAR)" for c in cols])
        band_selects.append(f"SELECT doc_id, {key} AS band_key FROM sigs")
    bands = " UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""{_minhash_sig_sql()},
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_id_1, doc_id_2,
             round(CAST({matches} AS DOUBLE) / {NUM_HASHES}, 6) AS est_jaccard
      FROM cand
      JOIN sigs sa ON cand.doc_id_1 = sa.doc_id
      JOIN sigs sb ON cand.doc_id_2 = sb.doc_id
      WHERE round(CAST({matches} AS DOUBLE) / {NUM_HASHES}, 6) >= {threshold}
    )"""


def _minhash_pairs_oracle(threshold: float = 0.5) -> str:
    return (
        _minhash_pairs_cte(threshold)
        + "\n    SELECT doc_id_1, doc_id_2, est_jaccard FROM pairs"
    )


@spark_query("d07_minhash_lsh", _minhash_pairs_oracle())
def d07_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs, served from the shared
    signature substrate (round 6): the Arrow-batched signature UDF is
    paid once per dataset by the artifact builder; the banding join
    starts at the (doc_id, h0..h31) artifact scan.
    ``dedup.minhash_lsh_pairs`` remains the standalone twin."""
    from ..operators import text_substrate

    return text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)


# ---------------------------------------------------------------------------
# SimHash fingerprints (portable hash → full oracle)
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    tok_hash = text.portable_hash60_sql("token")
    votes = ",\n           ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN w ELSE -w END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    weighted AS (
      SELECT doc_id, token, count(*) AS w FROM tok GROUP BY 1, 2
    ),
    hashed AS (
      SELECT doc_id, w, {tok_hash} AS th FROM weighted
    ),
    votes AS (
      SELECT doc_id,
           {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM votes
    """


@spark_query("d08_simhash", _simhash_oracle())
def d08_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(_docs(spark, sf_dir), portable=True)


# ---------------------------------------------------------------------------
# Embedding similarity: exact brute-force top-k + threshold near-dup pairs
# ---------------------------------------------------------------------------
_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x))"
)


@spark_query(
    "d09_ann_topk",
    f"""
    WITH scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5
    """,
)
def d09_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(embs, queries, k=5)


def _hyperplane_sig_sql(num_planes: int = 16, dim: int = 64) -> str:
    """The signature expression with the ±1 plane matrix baked in as
    literals — the planes are deterministic (similarity._plane_sign), so
    the whole LSH pipeline gets an exact oracle, not just a rows check."""
    from ..operators.similarity import _plane_sign

    terms = []
    for pl in range(num_planes):
        signs = ", ".join(
            "1.0" if _plane_sign(pl, j) else "-1.0" for j in range(dim)
        )
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * CAST(([{signs}])[i] AS DOUBLE))), "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << pl} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _d10_oracle() -> str:
    """Banded near-dup contract stated directly (the d14 pattern): cos ≥
    threshold AND the hyperplane signatures agree on ≥1 of 4 bands.
    Band agreement is part of the operator semantics, which is what
    lets the registered plan enumerate candidates with a band equi-join
    instead of an all-pairs theta join while staying exactly
    value-checkable."""
    from ..operators.similarity import band_bounds

    band_eq = " OR ".join(
        f"((CAST(a.sig AS BIGINT) >> {off}) & {(1 << size) - 1}) = "
        f"((CAST(b.sig AS BIGINT) >> {off}) & {(1 << size) - 1})"
        for off, size in band_bounds(16, 4)
    )
    return f"""
    WITH s AS (
      SELECT vec_id, embedding, {_hyperplane_sig_sql()} AS sig FROM embeddings
    )
    SELECT a.vec_id AS id_1, b.vec_id AS id_2,
           round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
             AS cos_sim
    FROM s a, s b
    WHERE a.vec_id < b.vec_id
      AND ({band_eq})
      AND round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
          >= 0.4
    """


@spark_query("d10_embedding_neardup", _d10_oracle())
def d10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, scale-safe: LSH band equi-join bounds
    candidate enumeration (no cartesian node in the plan); the exact
    all-pairs form (`similarity.near_duplicate_pairs`) is its
    verification twin in tests."""
    return similarity.near_duplicate_pairs_banded(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, n_bands=4
    )


# ---------------------------------------------------------------------------
# Multimodal: binary payload plumbing + Arrow-batched feature extraction
# ---------------------------------------------------------------------------
@spark_query(
    "d11_multimodal_features",
    """
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    geo AS (
      SELECT doc_id, media_type, n,
             8 + n % 16 AS bmp_w,
             8 + (n * 7) % 16 AS bmp_h,
             1 + n % 256 AS wav_frames
      FROM m
    )
    SELECT doc_id, media_type,
           CAST(CASE media_type
                  WHEN 'image' THEN CASE
                    -- BMP file size: 54-byte headers + 4-byte-padded rows
                    WHEN doc_id % 6 = 0
                      THEN 54 + bmp_h * ((3 * bmp_w + 3) // 4 * 4)
                    -- PNG file size: sig+IHDR+IDAT+IEND framing (68) +
                    -- filter-0 scanlines in one stored zlib block
                    ELSE 68 + bmp_h * (3 * bmp_w + 1) END
                  -- WAV file size: 44-byte canonical header + PCM16 mono
                  WHEN 'audio' THEN 44 + 2 * wav_frames
                  ELSE n END AS BIGINT) AS byte_len,
           CAST(CASE media_type WHEN 'image' THEN bmp_w
                  WHEN 'audio' THEN 0
                  ELSE 64 + n % 64 END AS BIGINT) AS width,
           CAST(CASE media_type WHEN 'image' THEN bmp_h
                  WHEN 'audio' THEN 0
                  ELSE 64 + (n * 7) % 64 END AS BIGINT) AS height,
           CAST(CASE media_type WHEN 'image' THEN 1
                  WHEN 'audio' THEN wav_frames
                  ELSE 1 + n % 16 END AS BIGINT) AS n_frames
    FROM geo
    """,
)
def d11_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over REAL container payloads: image rows are
    genuine uncompressed BMPs or stored-block PNGs (split on doc_id %
    6) and audio rows genuine PCM16 WAVs (built by the stdlib encoders
    in operators/multimodal.py), and the decode stage parses their
    actual bytes — BMP/WAV by struct header walk, PNG by CRC-verified
    chunk walk + zlib inflate + scanline filter reconstruction — so the
    oracle's CASE arms assert real file geometry (BMP row padding, PNG
    chunk framing + stored-block zlib size, WAV header size), not
    length arithmetic. Video rows remain the documented stub tier
    (compressed codecs unavailable in-container): raw bytes through the
    deterministic fake decode."""
    media = multimodal.documents_as_real_media(_docs(spark, sf_dir))
    return multimodal.extract_features(media, decoder="real")


@spark_query(
    "d51_image_patches",
    """
    WITH m AS (
      SELECT doc_id, octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 0
    ),
    g AS (
      SELECT doc_id,
             CAST(64 + n % 64 AS BIGINT) AS w,
             CAST(64 + (n * 7) % 64 AS BIGINT) AS h
      FROM m
    ),
    pr AS (
      SELECT doc_id, w, h,
             unnest(range(0, CAST(ceil(h / 16.0) AS BIGINT))) AS patch_row
      FROM g
    ),
    pc AS (
      SELECT doc_id, w, h, patch_row,
             unnest(range(0, CAST(ceil(w / 16.0) AS BIGINT))) AS patch_col
      FROM pr
    )
    SELECT doc_id, CAST(patch_row AS BIGINT) AS patch_row,
           CAST(patch_col AS BIGINT) AS patch_col,
           least(16, w - patch_col * 16) AS patch_w,
           least(16, h - patch_row * 16) AS patch_h
    FROM pc
    """,
)
def d51_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-prep patch grid over the image rows of the media table — the
    1:N Arrow fan-out shape through mapInPandas (one image → dozens of
    patch rows, batches built inside the iterator). The oracle
    recomputes the deterministic fake-decode geometry and the grid in
    SQL, so the whole fan-out is value-checked, not just row-counted."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    return multimodal.extract_patches(media, patch=16, decoder="fake")


# NOTE: the former d12_minhash_lsh_xxhash registry entry (the
# xxhash64-hashed production minhash) was retired: xxhash64 cannot be
# recomputed by the DuckDB oracle, so the query could never graduate
# from a rows-only check, and the portable-hash treatment would just
# duplicate d07. The code path itself (`dedup.minhash_lsh_pairs(...,
# portable=False)`) stays and is exercised by
# tests/test_llm_ops.py::test_minhash_xxhash_production_path.


def _d13_oracle() -> str:
    return f"""
    WITH s AS (
      SELECT vec_id, embedding, {_hyperplane_sig_sql()} AS sig FROM embeddings
    ),
    cand AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM s a, s b
      WHERE b.vec_id < 10 AND a.vec_id != b.vec_id
        AND bit_count(xor(CAST(a.sig AS BIGINT), CAST(b.sig AS BIGINT))) <= 4
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM cand
    )
    SELECT * FROM ranked WHERE rank <= 5
    """


@spark_query("d13_ann_lsh", _d13_oracle())
def d13_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (recall < 1 by construction —
    but the candidate set itself is deterministic: the ±1 planes are
    seeded constants, so the oracle rebuilds the identical signatures,
    Hamming pre-filter and cosine ranking in SQL)."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.hyperplane_lsh_topk(embs, queries, k=5)


def _d14_oracle() -> str:
    """The banded-candidate semantic stated directly: Hamming ≤ 8 AND at
    least one 15-bit chunk agrees (4 chunks over a 60-bit fingerprint
    can ALL differ at Hamming 8, so chunk agreement is part of the
    operator's contract, not just a plan detail)."""
    fp_cte = _simhash_oracle().replace(
        "SELECT doc_id, ", "SELECT doc_id, ", 1
    )
    chunk_eq = " OR ".join(
        f"((a.simhash >> {ci * 15}) & 32767) = ((b.simhash >> {ci * 15}) & 32767)"
        for ci in range(4)
    )
    return f"""
    WITH fp AS ({fp_cte})
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a, fp b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 8
      AND ({chunk_eq})
    """


@spark_query("d14_simhash_pairs", _d14_oracle())
def d14_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming ≤ 8 via banded chunks. The
    portable fingerprints (d08) make the whole pair pipeline exactly
    oracle-checkable: the SQL states the banded semantic (≥1 chunk
    equal ∧ Hamming ≤ 8) as a direct quadratic filter, while the Spark
    plan reaches the same set through chunk-equality buckets."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=8)


def _d15_oracle() -> str:
    """The fitted-quantizer IVF stated in SQL: seed assignment →
    exact-quantized Lloyd mean per cell (the d145 fixed-point rule) →
    assignment/probing against the refined centroids → exact re-rank.
    Every float reduction is a dimension-sequential fold or an exact
    integer sum, so the oracle is value-exact, not approximate."""
    dot_vs = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(v.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    norm_s = _NORM_SQL.format(v="s")
    dot_vc = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> CAST(v.embedding[i] AS DOUBLE) * c.cent[i])), "
        "(acc, x) -> acc + x)"
    )
    norm_cent = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> c.cent[i] * c.cent[i])), (acc, x) -> acc + x))"
    )
    norm_v = _NORM_SQL.format(v="v")
    return f"""
    WITH seeds AS (
      SELECT vec_id AS sid, embedding FROM embeddings WHERE vec_id < 16
    ),
    seed_scored AS (
      SELECT v.vec_id, s.sid,
             round({dot_vs} / ({norm_v} * {norm_s}), 6) AS cscore
      FROM embeddings v, seeds s
    ),
    seed_assign AS (
      SELECT vec_id, sid AS cell FROM (
        SELECT vec_id, sid,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cscore DESC, sid ASC) AS r
        FROM seed_scored
      ) WHERE r = 1
    ),
    comp AS (
      SELECT a.cell, i,
             CAST(sum(CAST(floor(CAST(v.embedding[i] AS DOUBLE)
                    * 1000000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)
               / count(*) / 1000000000.0 AS m
      FROM embeddings v JOIN seed_assign a ON a.vec_id = v.vec_id,
           unnest(range(1, 65)) AS u(i)
      GROUP BY 1, 2
    ),
    cents AS (
      SELECT cell AS centroid_id, list(m ORDER BY i) AS cent
      FROM comp GROUP BY 1
    ),
    corpus_scored AS (
      SELECT v.vec_id AS neighbor_id, c.centroid_id,
             round({dot_vc} / ({norm_v} * {norm_cent}), 6) AS cscore
      FROM embeddings v, cents c
    ),
    assigned AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT neighbor_id, centroid_id,
               row_number() OVER (PARTITION BY neighbor_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM corpus_scored
      ) WHERE r = 1
    ),
    query_scored AS (
      SELECT v.vec_id AS query_id, c.centroid_id,
             round({dot_vc} / ({norm_v} * {norm_cent}), 6) AS cscore
      FROM embeddings v, cents c
      WHERE v.vec_id < 10
    ),
    probed AS (
      SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM query_scored
      ) WHERE r <= 4
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    rescored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM cand
      JOIN embeddings b ON b.vec_id = cand.query_id
      JOIN embeddings a ON a.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= 5
    """


@spark_query("d15_ann_ivf", _d15_oracle())
def d15_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a FITTED coarse quantizer, made deterministic
    (round-6 verdict #2 — this was the registry's only rows-only
    check): the quantizer is one exact Lloyd refinement step from the
    seeded centroids (vec_id < 16) — assign every corpus vector to its
    nearest seed by rounded cosine (id tiebreak), recompute each cell's
    centroid as the EXACT integer-quantized mean (d145's 1e-9
    fixed-point rule, order-free) — then serve with the fixed-centroid
    IVF (d20's proven shape) probing the top-4 refined cells and exact
    re-ranking candidates. Recall now follows from a deterministic
    pipeline instead of KMeans RNG, so the whole operator is
    value-oracled.

    Scale shape: seed assignment is a broadcast of 16 seed vectors
    against the corpus with partial-agg argmax (one row per vector
    leaves the map side); the Lloyd mean is a (cell, dim) aggregate —
    cells×64 rows however big the corpus; serving is d20's shape
    (broadcast centroid table, equi-join on cell, never all-pairs)."""
    embs = load_table(spark, sf_dir, "embeddings")
    seeds = F.broadcast(
        embs.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("sid"), F.col("embedding").alias("semb")
        )
    )
    scored = embs.select("vec_id", "embedding").crossJoin(seeds).select(
        "vec_id",
        "embedding",
        "sid",
        F.round(
            similarity.cosine_vectorized(F.col("embedding"), F.col("semb")), 6
        ).alias("cscore"),
    )
    # argmax by (cscore DESC, sid ASC) via min-struct — partial-agg'd,
    # so one row per vector leaves the map side (the d137 pattern)
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct((-F.col("cscore")).alias("ns"), F.col("sid"))).alias(
                "b"
            ),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("b.sid").alias("cell"))
    )
    q9 = F.lit(1e9)
    comp = (
        assigned.select("cell", F.posexplode("embedding").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * q9 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("double")
            .alias("s"),
            F.count("*").alias("cnt"),
        )
        .select("cell", "i", (F.col("s") / F.col("cnt") / q9).alias("m"))
    )
    # The serving operator broadcasts the centroid table TWICE (corpus
    # assignment + query probing); without a fence each broadcast
    # re-executes the whole Lloyd chain — a corpus×64 posexplode
    # aggregation. Checkpointing the 16-row centroid table runs Lloyd
    # once (round 11, guide §2.4: repeated expensive subtree), values
    # untouched.
    cents = (
        comp.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("m")))
            ).alias("__im")
        )
        .select(
            F.col("cell").alias("vec_id"),
            F.transform(F.col("__im"), lambda st: st.getField("m")).alias(
                "embedding"
            ),
        )
        .localCheckpoint()
    )
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk_fixed_centroids(
        embs, queries, cents, k=5, n_probe=4
    )


# ---------------------------------------------------------------------------
# Text cleaning, quality gating, vocabulary, deterministic sampling
# ---------------------------------------------------------------------------
@spark_query(
    "d16_text_clean",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\d{7,}', '<NUM>', 'g'),
             '\s+', ' ', 'g')) AS clean
    FROM documents
    """,
)
def d16_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email/digit-run scrubbing (training-data cleaning): chained
    JVM-side regexp_replace, one narrow pass."""
    return _docs(spark, sf_dir).select(
        "doc_id", text.clean_text("text").alias("clean")
    )


@spark_query(
    "d17_quality_filter",
    """
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens
    FROM feats
    WHERE n_tokens >= 10 AND n_chars >= 50
      AND n_chars / n_tokens BETWEEN 3 AND 12
    """,
)
def d17_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality gate a pretraining pipeline runs before tokenizing:
    keep docs passing length/shape thresholds. Predicates are plain
    column comparisons — pushable, codegen'd."""
    d = _docs(spark, sf_dir)
    tok = text.tokens("text")
    n_tokens = F.array_size(tok).cast("long")
    n_chars = F.length("text").cast("long")
    return (
        d.select(
            "doc_id",
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
        )
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("n_chars") >= 50)
            & (F.col("n_chars") / F.col("n_tokens")).between(3, 12)
        )
    )


@spark_query(
    "d18_vocabulary",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    SELECT token,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS doc_freq
    FROM tok
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 100
    """,
)
def d18_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (top-100 by frequency): the tokenizer-training
    input. countDistinct(doc_id) is the expensive part at scale — it
    expands to a two-phase agg; partials keep the shuffle bounded."""
    return text.vocabulary(_docs(spark, sf_dir), top_n=100)


@spark_query(
    "d19_hash_sample",
    f"""
    SELECT doc_id, text
    FROM documents
    WHERE ({portable_hash_sql("CAST(doc_id AS VARCHAR)")}) % 100 < 10
    """,
)
def d19_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample: hash(key) % 100 < 10.
    Reproducible across runs/engines/task-retries — unlike rand()-based
    sampling, a re-run of a failed 100 TB job selects the SAME rows."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "text").filter(
        text.hash_sample("doc_id", pct=10)
    )


_DOT_VC = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_V = _NORM_SQL.format(v="v")
_NORM_C = _NORM_SQL.format(v="c")


@spark_query(
    "d20_ann_ivf_fixed",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id < 16
    ),
    corpus_scored AS (
      SELECT v.vec_id AS neighbor_id, c.centroid_id,
             round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6) AS cscore
      FROM embeddings v, cents c
    ),
    assigned AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT neighbor_id, centroid_id,
               row_number() OVER (PARTITION BY neighbor_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM corpus_scored
      ) WHERE r = 1
    ),
    query_scored AS (
      SELECT v.vec_id AS query_id, c.centroid_id,
             round({_DOT_VC} / ({_NORM_V} * {_NORM_C}), 6) AS cscore
      FROM embeddings v, cents c
      WHERE v.vec_id < 10
    ),
    probed AS (
      SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cscore DESC, centroid_id ASC) AS r
        FROM query_scored
      ) WHERE r <= 2
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
      WHERE a.neighbor_id != p.query_id
    ),
    rescored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round({_DOT_SQL} / ({_NORM_SQL.format(v='a')} * {_NORM_SQL.format(v='b')}), 6)
               AS cos_sim
      FROM cand
      JOIN embeddings b ON b.vec_id = cand.query_id
      JOIN embeddings a ON a.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= 5
    """,
)
def d20_ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a fixed (loaded-as-data) centroid table: assignment and
    probing are relational argmax-over-cosine — the production shape of
    an offline-fitted index, and fully oracle-checked (unlike the
    KMeans-fit d15)."""
    embs = load_table(spark, sf_dir, "embeddings")
    centroids = embs.filter(F.col("vec_id") < 16)
    queries = embs.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk_fixed_centroids(
        embs, queries, centroids, k=5, n_probe=2
    )


@spark_query(
    "d21_dedup_keep_first",
    """
    SELECT d.doc_id, d.text
    FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
      ON d.doc_id = k.doc_id
    """,
)
def d21_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of exact dedup: shuffle 8-byte content hashes
    instead of full documents, keep min doc_id per hash, semi-join the
    survivors back. (The oracle states the semantic — first doc per
    distinct text — which coincides as long as xxhash64 is
    collision-free on the corpus; at 64 bits that holds far beyond
    oracle scale.)"""
    return dedup.exact_dedup_keep_first(
        _docs(spark, sf_dir).select("doc_id", "text")
    )


@spark_query(
    "d22_bpe_token_count",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(
             string_split_regex(
               regexp_replace(
                 regexp_replace(text, '([0-9]+)', ' \1 ', 'g'),
                 '([^a-zA-Z0-9_\s]+)', ' \1 ', 'g'),
               '\s+'),
             x -> x <> '')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def d22_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: whitespace + digit-run + punctuation
    boundaries, all regex, JVM-side (the pretraining cost estimator)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", text.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


@spark_query(
    "d23_frame_sample",
    """
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS mt,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    v AS (
      SELECT doc_id, n, greatest(n // 64, 1) AS nf
      FROM m WHERE mt = 'video' AND n > 0
    ),
    vf AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             CAST(least(n - i * 64, 64) AS BIGINT) AS frame_bytes
      FROM v, unnest(range(0, nf)) AS u(i)
    ),
    passthrough AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx,
             CAST(n AS BIGINT) AS frame_bytes
      FROM m WHERE mt <> 'video' OR n = 0
    )
    SELECT * FROM vf UNION ALL SELECT * FROM passthrough
    """,
)
def d23_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: one video row fans out to one row per
    sampled frame (mapInPandas with output cardinality != input — the
    Arrow-batch plumbing is the point). Upgraded round 6 from a
    rows-only check to a full value oracle: the deterministic slicing
    (64-byte frames over the utf-8 payload, max(1, n//64) frames,
    short tail frame, non-video single-frame passthrough) is restated
    in SQL, so the fan-out is value-checked per (doc, frame)."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    frames = multimodal.sample_frames(media, every_n_bytes=64)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("payload").cast("long").alias("frame_bytes"),
    )


_SHINGLE_CTE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks
    )"""


@spark_query(
    "d24_decontaminate",
    f"""{_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    bad AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id >= 20 AND shingle IN (SELECT shingle FROM bench)
    )
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def d24_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with id < 20 stand in for the
    held-out eval set; any corpus doc sharing a 3-word shingle with it
    is dropped (test-set-leakage guard). The eval shingle set
    broadcasts — the corpus is never shuffled."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") >= 20)
    benchmark = d.filter(F.col("doc_id") < 20)
    return dedup.decontaminate(corpus, benchmark).select(
        "doc_id", "lang", "source", "n_chars"
    )


@spark_query(
    "d25_repetition_ratio",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT doc_id,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN len(g) > 0
                THEN round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
                ELSE 0.0 END AS repetition
    FROM bg
    """,
)
def d25_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: 1 − distinct/total word
    bigrams per doc. Pure array expressions — evaluates in the scan
    stage, nothing shuffles."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", text.repetition_ratio("text", n=2).alias("repetition")
    )


@spark_query(
    "d26_stratified_sample",
    f"""
    SELECT doc_id, lang, text
    FROM documents
    WHERE ({portable_hash_sql("CAST(doc_id AS VARCHAR)")}) % 100
          < (CASE WHEN lang = 'en' THEN 30 ELSE 10 END)
    """,
)
def d26_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 30% of English, 10% of every
    other language — the language-rebalancing step of corpus curation,
    reproducible across runs/engines/task retries (unlike rand())."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", "text").filter(
        text.stratified_hash_sample("doc_id", "lang", {"en": 30}, 10)
    )


_LANGS = ["de", "en", "es", "fr", "zh"]


@spark_query(
    "d27_source_lang_matrix",
    f"""
    SELECT source,
           {", ".join(
               f"CAST(sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS {l}" for l in _LANGS
           )}
    FROM documents
    GROUP BY source
    """,
)
def d27_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition matrix: source × language counts via
    groupBy().pivot() with explicit pivot values (no extra pass to
    discover them — at scale, value discovery is a full shuffle)."""
    d = _docs(spark, sf_dir)
    pivoted = d.groupBy("source").pivot("lang", _LANGS).count()
    return pivoted.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).alias(l) for l in _LANGS],
    )


@spark_query(
    "d28_kmv_distinct",
    f"""
    WITH tok AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    h AS (
      SELECT DISTINCT {portable_hash_sql("token")} AS hh FROM tok
      ORDER BY hh LIMIT 256
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           max(hh) AS kth_min_hash,
           round((count(*) - 1) * {HASH_MOD}.0 / max(hh), 6) AS est_distinct
    FROM h
    """,
)
def d28_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token estimate via the KMV sketch (operators/sketch.py):
    deterministic with the portable hash, so — unlike HyperLogLog — the
    estimate itself is oracle-checkable bit-for-bit. Scale: map-side
    hash + per-partition top-k merge, nothing data-sized moves."""
    from ..operators.sketch import kmv_distinct_estimate

    tok = _docs(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("token")
    )
    return kmv_distinct_estimate(tok, "token", k=256)


@spark_query(
    "d29_label_centroids",
    """
    SELECT label, CAST(i - 1 AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v
    FROM embeddings, range(1, 65) AS t(i)
    GROUP BY label, i
    """,
)
def d29_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class-centroid table an IVF/kNN
    classifier trains from): posexplode the vector → one (label, dim)
    partial-agg — the shuffle carries 64 rows per (partition, label),
    never the vectors themselves."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("v"), 6).alias("centroid_v"),
        )
    )


@spark_query(
    "d30_tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def d30_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword/topic profile of
    the corpus. df is doc-count-distinct (two-phase agg); idf joins
    back BROADCAST (vocabulary-sized); top-k is a per-doc window, no
    global sort."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


def _components_oracle() -> str:
    """Transitive closure (recursive CTE) over the minhash near-dup
    pairs — DuckDB states the fixpoint declaratively; Spark computes it
    by iterated joins (operators/components.py)."""
    cte = _minhash_pairs_cte(0.5).replace("WITH toks", "WITH RECURSIVE toks", 1)
    return f"""{cte},
    nodes AS (
      SELECT doc_id_1 AS node FROM pairs
      UNION SELECT doc_id_2 FROM pairs
    ),
    edges AS (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS node, min(b) AS component
    FROM reach GROUP BY a
    """


@spark_query("d31_dedup_components", _components_oracle())
def d31_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the minhash-LSH
    near-dup edges via iterative min-label propagation (2 shuffles per
    round over (node, label) pairs only; near-dup graphs are small
    dense cliques so the fixpoint lands in 2-3 rounds). The oracle is
    the recursive-CTE transitive closure of the same edges.

    Served from the materialized (dataset, threshold) components
    artifact since round 7 — the fixpoint runs once per dataset, not
    once per consumer; ``connected_components`` over
    ``dedup.minhash_lsh_pairs`` remains the standalone semantic twin
    (equivalence pinned in tests/test_text_substrate.py)."""
    from ..operators import text_substrate

    return text_substrate.lsh_components(spark, sf_dir, threshold=0.5)


@spark_query(
    "d32_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS c,
             length(text) AS n
      FROM documents WHERE length(text) > 0
    ),
    freq AS (
      SELECT doc_id, c, n, count(*) AS k FROM chars
      WHERE c <> '' GROUP BY doc_id, c, n
    )
    SELECT doc_id,
           round(-sum((CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)), 6)
             AS char_entropy
    FROM freq GROUP BY doc_id
    """,
)
def d32_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-doc character distribution — low
    entropy flags degenerate/repetitive text (the cheap complement to
    the n-gram repetition rule). Explode chars → (doc, char) partial
    counts → one entropy agg; both shuffles carry counted rows, never
    characters."""
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.explode(F.split("text", "")).alias("c"),
        F.length("text").alias("n"),
    ).filter(F.col("c") != "")
    freq = chars.groupBy("doc_id", "c", "n").agg(F.count("*").alias("k"))
    p = F.col("k").cast("double") / F.col("n")
    return freq.groupBy("doc_id").agg(
        F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy")
    )


def _pagerank_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank unrolled to one CTE per power-method
    step (recursive CTEs can't aggregate in the recursive term, so the
    loop is generated instead). Numeric literals are emitted from the
    same Python doubles the Spark side uses, keeping both engines on
    identical IEEE operations."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    # which makes the unrolled power iteration exponential in depth (r5
    # inlines r4 inlines r3 ... each dragging the whole pair pipeline).
    sql = f"""{_minhash_pairs_cte(0.5)},
    nodes AS MATERIALIZED (
      SELECT doc_id_1 AS node FROM pairs
      UNION SELECT doc_id_2 FROM pairs
    ),
    g AS MATERIALIZED (
      SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
      UNION SELECT doc_id_2, doc_id_1 FROM pairs
    ),
    deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM g GROUP BY a),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS MATERIALIZED (
      SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes, nn)"""
    for i in range(1, iterations + 1):
        sql += f""",
    r{i} AS MATERIALIZED (
      SELECT nd.node,
             CAST({(1 - damping)!r} AS DOUBLE) / max(nn.n)
               + {damping!r} * coalesce(sum(r.rank / d.deg), 0) AS rank
      FROM nodes nd
      LEFT JOIN g ON g.b = nd.node
      LEFT JOIN r{i - 1} r ON r.node = g.a
      LEFT JOIN deg d ON d.a = g.a
      CROSS JOIN nn
      GROUP BY nd.node
    )"""
    return sql + f"""
    SELECT node, round(rank, 6) AS pagerank FROM r{iterations}
    """


@spark_query("d40_pagerank", _pagerank_oracle())
def d40_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the minhash near-dup graph — which
    documents sit at the center of duplicate clusters (the canonical
    representative-picking signal beyond min-id). Iterative power
    method as per-round join+agg (operators/components.py::pagerank);
    the oracle is the same five steps unrolled as CTEs, value-exact to
    1e-6."""
    from ..operators import text_substrate
    from ..operators.components import pagerank

    # pair list served from the shared signature substrate (round 7);
    # dedup.minhash_lsh_pairs remains the standalone twin
    pairs = text_substrate.lsh_pairs(spark, sf_dir, threshold=0.5)
    return pagerank(pairs)
