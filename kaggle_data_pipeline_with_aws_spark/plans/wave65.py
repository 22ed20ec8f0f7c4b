"""Round-10 wave 65 — the unigram tokenizer's SERVING leg (round-9
verdict #4: d202/d206 train and d203 reports lattice stats, but the
corpus was never actually tokenized with the trained vocab):

- d210 — Viterbi encode of every word type under the d202-trained
  vocab (2 EM rounds, top-150 candidates): the argmax segmentation's
  piece count per word, rolled up by word length — exact integer token
  counts (Σ word-frequency × pieces), tokens/char, and the quantized
  best-path probability mass.
- d211 — tokens/char compression: unigram Viterbi vs an 8-round BPE
  (the d162 trainer) encoding the SAME truncated word-type histogram —
  the head-to-head the tokenizer tier was missing (d167's BPE curve
  uses untruncated words, so it is not directly comparable to the
  lattice-bounded unigram; this row states both on one corpus basis).

Round-11 (round-10 verdict #4 — honest accounting when the corpus
outgrows the lattice): both rows now run from the UNTRUNCATED
word-type histogram. A word longer than the W-char lattice encodes as
its head's Viterbi segmentation plus one token per tail character —
SentencePiece's byte-fallback discipline — where a tail character in
the trained single-char vocabulary counts as a FALLBACK token and one
the truncated corpus never showed the trainer counts as UNK. d210
reports the truncated-type count and the exact integer fallback/UNK
token masses per length bucket (all zero when no word exceeds W, so
the sandbox scales reproduce the previous values); d211 adds the
full-basis totals (``*_full`` columns) next to the truncated-basis
head-to-head.

The Viterbi piece COUNT rides the unrolled max-product recurrence as a
closed-form column chain: c_i = c_{argmax_j}(v_j · p_{j,i}) + 1, the
argmax recovered by comparing v_i to each candidate term in fixed
ascending-j order (ties → smallest j = longest piece). Both engines
evaluate identical expression trees, so the float equality that picks
the arm is bit-exact (operators/unigram.py's determinism contract) and
every cross-row reduction is an integer sum.

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe
from ..operators import unigram as U
from ..sources.readers import load_table
from .registry import spark_query
from .wave42 import _round_cte
from .wave59 import _ROUNDS, _TOPK, _train_ctes, _wide_cte

_W = U.MAX_WORD_LEN
_L = U.MAX_PIECE_LEN
_Q = U.QUANT
_BPE_ROUNDS = 8


def _vc_chain(src: str) -> str:
    """Nested-subquery chain over a wide lattice row: v0..v{_W} (max-
    product scores), c0..c{_W} (argmax piece counts), vbest, cbest —
    the SQL twin of ``operators/unigram.py::viterbi_encode``."""
    q = f"SELECT *, CAST(1.0 AS DOUBLE) AS v0, 0 AS c0 FROM {src}"
    for i in range(1, _W + 1):
        js = list(range(max(0, i - _L), i))
        terms = [f"v{j} * p_{j}_{i}" for j in js]
        expr = (
            f"greatest({', '.join(terms)})" if len(terms) > 1 else terms[0]
        )
        q = f"SELECT *, ({expr}) AS v{i} FROM ({q})"
        arms = " ".join(
            f"WHEN v{i} = {t} THEN c{j} + 1" for j, t in zip(js, terms)
        )
        q = f"SELECT *, (CASE {arms} END) AS c{i} FROM ({q})"
    varms = " ".join(
        f"WHEN len(word) = {i} THEN v{i}" for i in range(1, _W)
    )
    carms = " ".join(
        f"WHEN len(word) = {i} THEN c{i}" for i in range(1, _W)
    )
    q = (
        f"SELECT word, w, CASE {varms} ELSE v{_W} END AS vbest, "
        f"CAST(CASE {carms} ELSE c{_W} END AS BIGINT) AS n_pieces "
        f"FROM ({q})"
    )
    return q


def _enc_cte() -> str:
    """Train (wave-59 CTEs, identical params to d202) + encode: ends
    at ``uenc(word, w, vbest, n_pieces)``."""
    return f"""{_train_ctes(_ROUNDS, frozenset())}{
        _wide_cte(_ROUNDS + 1)},
    uenc AS MATERIALIZED (
      {_vc_chain(f'wide{_ROUNDS + 1}')}
    )"""


def _full_ctes() -> str:
    """wtf (untruncated word types), singles (the trained single-char
    vocab — every head character survives pruning by construction),
    tailstats (per overlong word: tail chars in/out of the single
    vocab — fallback vs UNK), perword (the serving-side join of full
    types to their head's Viterbi encode)."""
    return f""",
    wtf AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE len(word) >= 1
      GROUP BY 1
    ),
    singles AS (
      SELECT piece FROM vocab{_ROUNDS} WHERE len(piece) = 1
    ),
    tailch AS (
      SELECT word, substr(word, CAST(pos AS INT), 1) AS ch FROM (
        SELECT word, unnest(range({_W} + 1, len(word) + 1)) AS pos
        FROM wtf WHERE len(word) > {_W}
      )
    ),
    tailstats AS (
      SELECT word,
             CAST(sum(CASE WHEN s.piece IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unk_ch,
             CAST(sum(CASE WHEN s.piece IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_fb_ch
      FROM tailch t LEFT JOIN singles s ON s.piece = t.ch
      GROUP BY 1
    ),
    perword AS MATERIALIZED (
      SELECT f.word, f.w,
             CASE WHEN len(f.word) <= {_W} THEN len(f.word)
                  ELSE {_W} + 1 END AS wlen,
             len(f.word) AS flen,
             greatest(len(f.word) - {_W}, 0) AS tail_len,
             e.vbest, e.n_pieces,
             coalesce(ts.n_unk_ch, 0) AS n_unk_ch,
             coalesce(ts.n_fb_ch, 0) AS n_fb_ch
      FROM wtf f
      JOIN uenc e ON e.word = substr(f.word, 1, {_W})
      LEFT JOIN tailstats ts ON ts.word = f.word
    )"""


def _d210_oracle() -> str:
    return f"""{_enc_cte()}{_full_ctes()}
    SELECT CAST(wlen AS BIGINT) AS wlen,
           CAST(count(*) AS BIGINT) AS n_word_types,
           CAST(sum(w * (n_pieces + tail_len)) AS BIGINT) AS n_tokens,
           CAST(sum(w * flen) AS BIGINT) AS n_chars,
           CAST(round(CAST(sum(w * (n_pieces + tail_len)) AS DOUBLE)
                      / sum(w * flen), 6) AS DOUBLE) AS tokens_per_char,
           CAST(sum(CAST(floor(CAST(w AS DOUBLE) * vbest * {_Q} + 0.5)
                         AS BIGINT)) AS BIGINT) AS q_vbest_mass,
           CAST(sum(CASE WHEN tail_len > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated_types,
           CAST(sum(w * n_fb_ch) AS BIGINT) AS n_fallback_tokens,
           CAST(sum(w * n_unk_ch) AS BIGINT) AS n_unk_tokens
    FROM perword
    GROUP BY 1
    ORDER BY wlen
    """


@spark_query("d210_unigram_viterbi_encode", _d210_oracle())
def d210_unigram_viterbi_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained unigram vocab: the Viterbi
    argmax segmentation of every word type (operators/unigram.py::
    viterbi_encode — the closed-form count-carrying recurrence, no UDF,
    no loop), rolled up by word length. Round-11: the rollup runs from
    the UNTRUNCATED histogram — a word longer than the W-char lattice
    encodes as its head's segmentation plus one token per tail
    character (SentencePiece byte-fallback), split into FALLBACK
    (tail char in the trained single-char vocab) and UNK (never seen
    by the trainer) masses, all exact integers; bucket W+1 collects
    the overlong words. Token totals are exact integers (Σ frequency ×
    pieces); the best-path probability mass is the 1e-6-quantized
    integer sum. Corpus touched once (the word-type histogram); encode
    itself is vocab-broadcast + one pivot — the same 100 TB shape as
    the trainer."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    # ONE corpus pass: the truncated histogram derives from the full
    # one word-type-side (round-11 optimization — previously both
    # histograms re-exploded the corpus).
    wt_full = U.word_types_full(docs).localCheckpoint()
    wt = U.truncate_types(wt_full).localCheckpoint()
    vocab_rows = U.train_rows(wt, _ROUNDS, _TOPK)
    pmap = U.probs_map(vocab_rows)
    # The head's Viterbi encode computes INLINE on substring(word, 1, W)
    # — identical expressions on the same head string as the previous
    # encode-then-join-by-head plan, with the join and the separate
    # tail-char explode+broadcast-join removed (guide §2.4). The
    # trained single-char vocab rides in as a literal array.
    singles = sorted(p for p, _ in vocab_rows if len(p) == 1)
    singles_arr = F.array(*[F.lit(s) for s in singles])
    enc = U.viterbi_encode_cols(
        wt_full, F.substring("word", 1, _W), pmap
    )
    tailch = F.when(
        F.length("word") > _W,
        F.transform(
            F.sequence(F.lit(_W + 1), F.length("word")),
            lambda pos: F.col("word").substr(pos, F.lit(1)),
        ),
    ).otherwise(F.slice(F.split(F.lit(""), ","), 1, 0))
    n_fb = F.size(
        F.filter(tailch, lambda c: F.array_contains(singles_arr, c))
    ).cast("long")
    perword = enc.select(
        F.when(F.length("word") <= _W, F.length("word"))
        .otherwise(F.lit(_W + 1))
        .cast("long")
        .alias("wlen"),
        "w",
        F.length("word").alias("flen"),
        F.greatest(F.length("word") - _W, F.lit(0)).alias("tail_len"),
        "vbest",
        "n_pieces",
        (
            F.greatest(F.length("word") - _W, F.lit(0)).cast("long") - n_fb
        ).alias("n_unk_ch"),
        n_fb.alias("n_fb_ch"),
    )
    q_vb = F.floor(
        F.col("w").cast("double") * F.col("vbest") * _Q + F.lit(0.5)
    ).cast("long")
    return (
        perword.groupBy("wlen")
        .agg(
            F.count("*").cast("long").alias("n_word_types"),
            F.sum(F.col("w") * (F.col("n_pieces") + F.col("tail_len")))
            .alias("n_tokens"),
            F.sum(F.col("w") * F.col("flen")).cast("long")
            .alias("n_chars"),
            F.round(
                F.sum(
                    F.col("w") * (F.col("n_pieces") + F.col("tail_len"))
                ).cast("double")
                / F.sum(F.col("w") * F.col("flen")),
                6,
            ).alias("tokens_per_char"),
            F.sum(q_vb).alias("q_vbest_mass"),
            F.sum(F.when(F.col("tail_len") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_truncated_types"),
            F.sum(F.col("w") * F.col("n_fb_ch")).cast("long")
            .alias("n_fallback_tokens"),
            F.sum(F.col("w") * F.col("n_unk_ch")).cast("long")
            .alias("n_unk_tokens"),
        )
        .orderBy("wlen")
    )


def _d211_oracle() -> str:
    # BPE over the SAME truncated word-type histogram the unigram
    # lattice uses: seed the 1-char segmentation from wave-59's wt,
    # then the wave-42 round blocks verbatim.
    seg0 = """,
    seg0 AS (
      SELECT word, w,
             CAST(unnest(range(1, len(word) + 1)) AS BIGINT) AS pos,
             substr(word, CAST(unnest(range(1, len(word) + 1)) AS INT), 1)
               AS sym
      FROM wt
    )"""
    blocks = ",".join(_round_cte(r) for r in range(1, _BPE_ROUNDS + 1))
    return f"""{_enc_cte()}{seg0},{blocks},
    chars AS (
      SELECT CAST(sum(w * len(word)) AS BIGINT) AS n_chars,
             CAST(sum(w) AS BIGINT) AS n_words
      FROM wt
    ),
    wtf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE len(word) >= 1
      GROUP BY 1
    ),
    fullagg AS (
      SELECT CAST(sum(w * greatest(len(word) - {_W}, 0)) AS BIGINT)
               AS tail_tokens,
             CAST(sum(w * len(word)) AS BIGINT) AS n_chars_full
      FROM wtf
    ),
    utok AS (SELECT CAST(sum(w * n_pieces) AS BIGINT) AS n_tokens
             FROM uenc),
    btok AS (SELECT CAST(sum(w) AS BIGINT) AS n_tokens
             FROM seg{_BPE_ROUNDS})
    SELECT tokenizer, n_tokens, n_chars,
           CAST(round(CAST(n_tokens AS DOUBLE) / n_chars, 6) AS DOUBLE)
             AS tokens_per_char,
           CAST(round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS DOUBLE)
             AS tokens_per_word,
           CAST(n_tokens + tail_tokens AS BIGINT) AS n_tokens_full,
           n_chars_full,
           CAST(round(CAST(n_tokens + tail_tokens AS DOUBLE)
                      / n_chars_full, 6) AS DOUBLE)
             AS tokens_per_char_full
    FROM (
      SELECT 'bpe' AS tokenizer, b.n_tokens, c.n_chars, c.n_words,
             f.tail_tokens, f.n_chars_full
      FROM btok b, chars c, fullagg f
      UNION ALL
      SELECT 'unigram', u.n_tokens, c.n_chars, c.n_words,
             f.tail_tokens, f.n_chars_full
      FROM utok u, chars c, fullagg f
    )
    ORDER BY tokenizer
    """


@spark_query("d211_tokenizer_compression_compare", _d211_oracle())
def d211_tokenizer_compression_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Head-to-head tokens/char: the trained unigram's Viterbi encode
    vs an 8-round BPE, both over the truncated word-type histogram —
    one corpus basis, so the compression numbers compare directly (the
    likelihood-trained vocab vs the merge-trained vocab at similar
    effective vocabulary budgets). All token totals are exact integer
    sums; the corpus collapses to the histogram once and both encoders
    run on vocab-sized tables. Round-11: the ``*_full`` columns state
    both tokenizers on the UNTRUNCATED corpus basis — each word's tail
    beyond the W-char lattice adds one char-fallback token for either
    tokenizer — so the comparison stays honest when the corpus
    outgrows the lattice (identical to the truncated basis until it
    does)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    # ONE corpus pass (round-11): full histogram checkpointed, the
    # truncated basis derived word-type-side.
    wt_full = U.word_types_full(docs).localCheckpoint()
    wt = U.truncate_types(wt_full).localCheckpoint()
    fullagg = F.broadcast(
        wt_full.agg(
            F.sum(
                F.col("w")
                * F.greatest(F.length("word") - _W, F.lit(0))
            )
            .cast("long")
            .alias("tail_tokens"),
            F.sum(F.col("w") * F.length("word")).cast("long")
            .alias("n_chars_full"),
        )
    )
    vocab_rows = U.train_rows(wt, _ROUNDS, _TOPK)
    enc = U.viterbi_encode_from_map(wt, U.probs_map(vocab_rows))
    utok = enc.agg(
        F.sum(F.col("w") * F.col("n_pieces")).alias("n_tokens")
    )
    seg = bpe.initial_segmentation(wt).localCheckpoint()
    for rnd in range(1, _BPE_ROUNDS + 1):
        _, seg = bpe.bpe_round(seg, rnd)
        seg = seg.localCheckpoint()
    btok = seg.agg(
        F.sum(F.col("w") * F.size("syms")).alias("n_tokens")
    )
    chars = F.broadcast(
        wt.agg(
            F.sum(F.col("w") * F.length("word")).cast("long")
            .alias("n_chars"),
            F.sum("w").alias("n_words"),
        )
    )
    out = (
        btok.select(F.lit("bpe").alias("tokenizer"), "n_tokens")
        .unionByName(
            utok.select(F.lit("unigram").alias("tokenizer"), "n_tokens")
        )
        .crossJoin(chars)
        .crossJoin(fullagg)
    )
    return out.select(
        "tokenizer",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_chars"), 6
        ).alias("tokens_per_char"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_words"), 6
        ).alias("tokens_per_word"),
        (F.col("n_tokens") + F.col("tail_tokens"))
        .cast("long")
        .alias("n_tokens_full"),
        "n_chars_full",
        F.round(
            (F.col("n_tokens") + F.col("tail_tokens")).cast("double")
            / F.col("n_chars_full"),
            6,
        ).alias("tokens_per_char_full"),
    ).orderBy("tokenizer")
