"""Round-9 wave 59 — unigram-LM (SentencePiece-style) tokenizer
trainer (round-8 verdict #2: completes the tokenizer tier d162's BPE
trainer opened — merge-based AND likelihood-based halves):

- d202 — the EM trainer itself: seed candidate vocab (all single
  chars + top-K substrings), two forward/backward EM rounds over the
  bounded word lattice, output the trained piece table (piece,
  quantized expected count, smoothed probability).
- d203 — the segmentation-quality curve: per EM round, the corpus
  expected-piece count and the Viterbi-confidence mass (best-path
  probability share of the total lattice probability) — the unigram
  analog of d167's BPE compression curve, the table that says when
  more EM stops paying.

The oracle unrolls the loop: per round, a pivot CTE (one p_{j}_{i}
column per lattice edge), a nested-subquery chain stating the
forward/backward recurrences in the SAME left-associated order the
Spark operator uses, an unnest-unpivot M-step with 1e-6-quantized
integer sums, and the re-normalized vocab — plain SQL, no recursion.
Floats match bit-for-bit because both engines evaluate identical
expression trees and every cross-row reduction is an integer sum
(see operators/unigram.py's determinism contract; the python replay
in tests/test_unigram.py pins the same property).

Reference scope: beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import unigram as U
from ..sources.readers import load_table
from .registry import spark_query

_ROUNDS = 2
_TOPK = 150
_W = U.MAX_WORD_LEN
_L = U.MAX_PIECE_LEN
_Q = U.QUANT


# ---------------------------------------------------------------------------
# oracle generators — one string builder per algorithm stage
# ---------------------------------------------------------------------------
def _base_ctes() -> str:
    """wt (truncated word types), pieces (lattice edges), seed vocab0."""
    return f"""WITH wt AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT substr(t, 1, {_W}) AS word
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      ) WHERE len(word) >= 1
      GROUP BY 1
    ),
    pieces AS MATERIALIZED (
      SELECT word, w, j, i, substr(word, j + 1, i - j) AS piece
      FROM (
        SELECT word, w, CAST(jj AS INT) AS j,
               CAST(unnest(range(jj + 1, least(jj + {_L}, len(word)) + 1))
                    AS INT) AS i
        FROM (SELECT word, w, unnest(range(0, len(word))) AS jj FROM wt)
      )
    ),
    seedhist AS MATERIALIZED (
      SELECT piece, CAST(sum(w) AS BIGINT) AS qc FROM pieces GROUP BY 1
    ),
    vocab0 AS MATERIALIZED (
      SELECT piece, qc FROM seedhist WHERE len(piece) = 1
      UNION ALL
      SELECT piece, qc FROM (
        SELECT piece, qc,
               row_number() OVER (ORDER BY qc DESC, piece) AS rk
        FROM seedhist WHERE len(piece) >= 2
      ) WHERE rk <= {_TOPK}
    )"""


def _probs_cte(r: int | str) -> str:
    return f""",
    probs{r} AS MATERIALIZED (
      SELECT piece,
             CAST(qc + 1 AS DOUBLE) / CAST(t + v AS DOUBLE) AS p
      FROM vocab{r} CROSS JOIN (
        SELECT CAST(sum(qc) AS BIGINT) AS t, count(*) AS v FROM vocab{r}
      )
    )"""


def _wide_cte(r: int, probs_name: str | None = None) -> str:
    """Pivot: one row per word, p_{{j}}_{{i}} columns from the probs
    CTE (default: probs{r-1})."""
    src = probs_name or f"probs{r - 1}"
    cols = ",\n             ".join(
        f"coalesce(max(CASE WHEN j = {j} AND i = {i} THEN p END), "
        f"CAST(0.0 AS DOUBLE)) AS p_{j}_{i}"
        for j, i in U.lattice_pairs()
    )
    return f""",
    wide{r} AS MATERIALIZED (
      SELECT word, w,
             {cols}
      FROM pieces JOIN {src} USING (piece)
      GROUP BY word, w
    )"""


def _fb_chain(src: str, viterbi: bool) -> str:
    """Nested-subquery chain: f0..f{_W}, b{_W}..b0, z (+ v chain)."""
    q = f"SELECT *, CAST(1.0 AS DOUBLE) AS f0 FROM {src}"
    for i in range(1, _W + 1):
        terms = " + ".join(
            f"f{j} * p_{j}_{i}" for j in range(max(0, i - _L), i)
        )
        q = f"SELECT *, ({terms}) AS f{i} FROM ({q})"
    q = (
        f"SELECT *, CASE WHEN len(word) = {_W} THEN CAST(1.0 AS DOUBLE) "
        f"ELSE CAST(0.0 AS DOUBLE) END AS b{_W} FROM ({q})"
    )
    for i in range(_W - 1, 0, -1):
        terms = " + ".join(
            f"p_{i}_{k} * b{k}" for k in range(i + 1, min(i + _L, _W) + 1)
        )
        q = (
            f"SELECT *, CASE WHEN len(word) = {i} THEN CAST(1.0 AS DOUBLE) "
            f"ELSE ({terms}) END AS b{i} FROM ({q})"
        )
    terms = " + ".join(f"p_0_{k} * b{k}" for k in range(1, _L + 1))
    q = f"SELECT *, ({terms}) AS b0 FROM ({q})"
    q = f"SELECT *, b0 AS z FROM ({q})"
    if viterbi:
        q = f"SELECT *, CAST(1.0 AS DOUBLE) AS v0 FROM ({q})"
        for i in range(1, _W + 1):
            terms = [
                f"v{j} * p_{j}_{i}" for j in range(max(0, i - _L), i)
            ]
            expr = (
                f"greatest({', '.join(terms)})"
                if len(terms) > 1
                else terms[0]
            )
            q = f"SELECT *, ({expr}) AS v{i} FROM ({q})"
        arms = " ".join(
            f"WHEN len(word) = {i} THEN v{i}" for i in range(1, _W)
        )
        q = (
            f"SELECT *, CASE {arms} ELSE v{_W} END AS vbest FROM ({q})"
        )
    return q


def _fb_cte(r: int, viterbi: bool = False) -> str:
    return f""",
    fb{r} AS MATERIALIZED (
      {_fb_chain(f'wide{r}', viterbi)}
    )"""


def _edge_q(j: int, i: int) -> str:
    """The quantized posterior count of lattice edge (j, i)."""
    return (
        f"CAST(floor(CAST(w AS DOUBLE) * (f{j} * p_{j}_{i} * b{i} / z)"
        f" * {_Q} + 0.5) AS BIGINT)"
    )


def _mstep_ctes(r: int, vocab_src: str | None = None) -> str:
    """unnest-unpivot of the quantized edge posteriors + vocab{r}
    (piece set fixed to ``vocab_src``, default vocab{r-1})."""
    vsrc = vocab_src or f"vocab{r - 1}"
    packs = ",\n        ".join(
        f"struct_pack(pc := substr(word, {j + 1}, {i - j}), "
        f"q := {_edge_q(j, i)})"
        for j, i in U.lattice_pairs()
    )
    return f""",
    mqu{r} AS (
      SELECT unnest([
        {packs}
      ]) AS u
      FROM fb{r}
    ),
    mq{r} AS (
      SELECT u.pc AS piece, CAST(sum(u.q) AS BIGINT) AS mqc
      FROM mqu{r} WHERE u.q > 0
      GROUP BY 1
    ),
    vocab{r} AS MATERIALIZED (
      SELECT v.piece, coalesce(m.mqc, 0) AS qc
      FROM (SELECT piece FROM {vsrc}) v
      LEFT JOIN mq{r} m USING (piece)
    )"""


def _train_ctes(rounds: int, last_fb_viterbi_rounds: frozenset[int]) -> str:
    """The full unrolled trainer: vocab0 … vocab{rounds} (+ probs)."""
    parts = [_base_ctes()]
    for r in range(1, rounds + 1):
        parts.append(_probs_cte(r - 1))
        parts.append(_wide_cte(r))
        parts.append(_fb_cte(r, viterbi=(r in last_fb_viterbi_rounds)))
        parts.append(_mstep_ctes(r))
    parts.append(_probs_cte(rounds))
    return "".join(parts)


def _d202_oracle() -> str:
    return f"""{_train_ctes(_ROUNDS, frozenset())}
    SELECT piece, qc, CAST(round(p, 9) AS DOUBLE) AS p
    FROM vocab{_ROUNDS} JOIN probs{_ROUNDS} USING (piece)
    ORDER BY piece
    """


@spark_query("d202_unigram_train", _d202_oracle())
def d202_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training: 2 forward/backward EM rounds
    over the bounded word-type lattice, candidate vocab = every single
    character + the top-150 substrings (≤4 chars) by corpus count.
    Output: (piece, expected micro-count, smoothed probability) — the
    artifact a unigram tokenizer ships.

    Scale shape per operators/unigram.py (round-11 rework): the corpus
    collapses to the word-type histogram once; each EM round is one
    zero-join lattice projection over the checkpointed histogram (the
    ≤(150+alphabet)-row vocab rides in as a literal prob map) plus the
    piece-keyed integer-sum shuffle — no per-round broadcast, no
    word-keyed pivot exchange, no materialized lattice-edge table."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    out = U.unigram_train(docs, rounds=_ROUNDS, top_k=_TOPK)
    return out.select(
        "piece", "qc", F.round("p", 9).alias("p")
    ).orderBy("piece")


def _stats_select(r: int) -> str:
    """Aggregate one fb chain (built with viterbi) into the round row."""
    ec = " + ".join(
        f"f{j} * p_{j}_{i} * b{i} / z" for j, i in U.lattice_pairs()
    )
    q_ec = (
        f"CAST(floor(CAST(w AS DOUBLE) * ({ec}) * {_Q} + 0.5) AS BIGINT)"
    )
    q_vs = (
        f"CAST(floor(CAST(w AS DOUBLE) * (vbest / z) * {_Q} + 0.5)"
        f" AS BIGINT)"
    )
    return f"""
      SELECT CAST({r - 1} AS BIGINT) AS round,
             CAST(sum({q_ec}) AS BIGINT) AS q_exp_pieces,
             CAST(sum({q_vs}) AS BIGINT) AS q_viterbi_share,
             CAST(sum(w) AS BIGINT) AS n_tokens
      FROM fb{r}"""


def _d203_oracle() -> str:
    rounds_needed = frozenset(range(1, _ROUNDS + 2))
    train = _train_ctes(_ROUNDS, rounds_needed)
    # the round-(R+1) lattice under the FINAL probs (no M-step follows)
    extra = _wide_cte(_ROUNDS + 1) + _fb_cte(_ROUNDS + 1, viterbi=True)
    unions = "\n      UNION ALL".join(
        _stats_select(r) for r in range(1, _ROUNDS + 2)
    )
    return f"""{train}{extra},
    stats AS ({unions}
    )
    SELECT round, q_exp_pieces,
           CAST(round(CAST(q_exp_pieces AS DOUBLE) / 1000000.0 / n_tokens,
                      6) AS DOUBLE) AS exp_pieces_per_word,
           q_viterbi_share,
           CAST(round(CAST(q_viterbi_share AS DOUBLE) / 1000000.0
                      / n_tokens, 6) AS DOUBLE) AS viterbi_confidence
    FROM stats
    ORDER BY round
    """


@spark_query("d203_unigram_segment_stats", _d203_oracle())
def d203_unigram_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram trainer's quality curve: per EM round (0 = seed
    vocab), the corpus expected-piece count (posterior-weighted soft
    token count) and the Viterbi-confidence mass (best-segmentation
    probability share of total lattice probability) — both as exact
    integer sums of 1e-6-quantized per-word values plus derived
    per-word averages. Expected pieces fall and Viterbi confidence
    rises as EM sharpens the piece distribution; the flattening point
    is where extra rounds stop paying (d167's compression-curve role,
    likelihood flavor)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    wt = U.word_types_truncated(docs).localCheckpoint()
    vocab_rows = U.collect_vocab(
        U.seed_vocab(U.candidate_pieces(wt), _TOPK)
    )
    rows = []
    for r in range(_ROUNDS + 1):
        st = U.viterbi_stats_from_map(wt, U.probs_map(vocab_rows))
        q_ec = F.floor(
            F.col("w").cast("double") * F.col("exp_pieces") * _Q
            + F.lit(0.5)
        ).cast("long")
        q_vs = F.floor(
            F.col("w").cast("double") * (F.col("v") / F.col("z")) * _Q
            + F.lit(0.5)
        ).cast("long")
        rows.append(
            st.agg(
                F.sum(q_ec).alias("q_exp_pieces"),
                F.sum(q_vs).alias("q_viterbi_share"),
                F.sum("w").alias("n_tokens"),
            ).select(
                F.lit(r).cast("long").alias("round"),
                "q_exp_pieces",
                "q_viterbi_share",
                "n_tokens",
            )
        )
        if r < _ROUNDS:
            vocab_rows = U.em_round_rows(wt, vocab_rows)
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out.select(
        "round",
        "q_exp_pieces",
        F.round(
            F.col("q_exp_pieces").cast("double")
            / F.lit(1000000.0)
            / F.col("n_tokens"),
            6,
        ).alias("exp_pieces_per_word"),
        "q_viterbi_share",
        F.round(
            F.col("q_viterbi_share").cast("double")
            / F.lit(1000000.0)
            / F.col("n_tokens"),
            6,
        ).alias("viterbi_confidence"),
    ).orderBy("round")


# ---------------------------------------------------------------------------
# d206 — the prune round: the step that makes EM a full SentencePiece
# training loop (seed → EM → prune least-useful pieces → re-EM).
# ---------------------------------------------------------------------------
_PRUNE_TO = 100  # multi-char pieces kept (from the 150 seeded)


def _d206_oracle() -> str:
    r1 = _ROUNDS + 1
    prune = f""",
    vocab2p AS MATERIALIZED (
      SELECT piece, qc FROM vocab{_ROUNDS} WHERE len(piece) = 1
      UNION ALL
      SELECT piece, qc FROM (
        SELECT piece, qc,
               row_number() OVER (ORDER BY qc DESC, piece) AS rk
        FROM vocab{_ROUNDS} WHERE len(piece) >= 2
      ) WHERE rk <= {_PRUNE_TO}
    )"""
    return f"""{_train_ctes(_ROUNDS, frozenset())}{prune}{_probs_cte("2p")}{
        _wide_cte(r1, probs_name="probs2p")}{_fb_cte(r1)}{
        _mstep_ctes(r1, vocab_src="vocab2p")}{_probs_cte(r1)}
    SELECT piece, qc, CAST(round(p, 9) AS DOUBLE) AS p
    FROM vocab{r1} JOIN probs{r1} USING (piece)
    ORDER BY piece
    """


@spark_query("d206_unigram_prune_round", _d206_oracle())
def d206_unigram_prune_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prune step that closes the SentencePiece loop: after the
    two EM rounds, drop the 50 lowest-expected-count multi-character
    pieces (singles are inviolable — coverage), renormalize over the
    smaller vocabulary, and run one more EM round — probability mass
    from pruned pieces redistributes onto the survivors' posteriors.
    Output: the final (piece, expected micro-count, probability)
    table a production unigram tokenizer would ship.

    Pruning uses the standard expected-count approximation of the
    per-piece likelihood loss; the lattice/M-step machinery and its
    bit-exact determinism contract are unchanged
    (operators/unigram.py)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    wt = U.word_types_truncated(docs).localCheckpoint()
    vocab_rows = U.train_rows(wt, _ROUNDS, _TOPK)
    pruned = U.prune_rows(vocab_rows, _PRUNE_TO)
    final_rows = U.em_round_rows(wt, pruned)
    return (
        U.vocab_with_probs_df(spark, final_rows)
        .select("piece", "qc", F.round("p", 9).alias("p"))
        .orderBy("piece")
    )
