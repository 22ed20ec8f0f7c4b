"""Tests for the retrieval & curation-assembly wave (plans/retrieval.py):
BM25, as-of join, canonical selection, packing, budget sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.operators.packing import (
    next_fit_pack,
)
from kaggle_data_pipeline_with_aws_spark.operators.renumber import (
    contiguous_row_number,
    global_prefix_sum,
    global_running_max,
)


def test_next_fit_pack_semantics(spark):
    df = spark.createDataFrame(
        [("a", 1, 40), ("a", 2, 50), ("a", 3, 20), ("a", 4, 150), ("a", 5, 10)],
        "g STRING, ord INT, sz INT",
    )
    got = {
        r.ord: r.bin_id
        for r in next_fit_pack(df, ["g"], "ord", "sz", capacity=100).collect()
    }
    # 40+50 fits bin 0; +20 would be 110 -> bin 1; 150 oversize -> bin 2
    # (overflow opens a fresh bin even though 150 > cap); 10 -> bin 3
    # because the 150-doc already overflowed its bin.
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_next_fit_pack_groups_independent(spark):
    df = spark.createDataFrame(
        [("a", 1, 60), ("b", 1, 60), ("a", 2, 60), ("b", 2, 60)],
        "g STRING, ord INT, sz INT",
    )
    rows = next_fit_pack(df, ["g"], "ord", "sz", capacity=100).collect()
    for r in rows:
        assert r.bin_id == (0 if r.ord == 1 else 1)


def test_global_prefix_sum_matches_single_window(spark):
    import random

    rng = random.Random(7)
    data = [(i, rng.randint(0, 50), rng.randint(1, 100)) for i in range(500)]
    df = spark.createDataFrame(data, "id LONG, key INT, w LONG")
    got = global_prefix_sum(
        df, order_by=["key", "id"], weight_col="w", out_col="cum"
    )
    w = Window.orderBy("key", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.withColumn("cum", F.sum("w").over(w).cast("long"))
    assert sorted((r.id, r.cum) for r in got.collect()) == sorted(
        (r.id, r.cum) for r in want.collect()
    )


@pytest.mark.parametrize(
    "scan, window_fn, frame_end",
    [
        (
            lambda df, ob: contiguous_row_number(df, ob, out_col="o"),
            F.row_number,
            None,
        ),
        (
            lambda df, ob: global_prefix_sum(df, ob, "w", out_col="o"),
            lambda: F.sum("w"),
            0,
        ),
        (
            lambda df, ob: global_running_max(df, ob, "w", out_col="o"),
            lambda: F.max("w"),
            -1,
        ),
    ],
    ids=["contiguous_row_number", "global_prefix_sum", "global_running_max"],
)
def test_global_scan_binary_leading_key_matches_single_window(
    spark, scan, window_fn, frame_end
):
    """A binary leading key has no numeric surrogate: the scan runs as
    one bucket, which must equal the single global window."""
    import random

    rng = random.Random(11)
    data = [
        (i, None if i % 37 == 0 else bytes([rng.randint(0, 9)] * 2),
         rng.randint(-50, 50))
        for i in range(300)
    ]
    df = spark.createDataFrame(data, "id LONG, kb BINARY, w LONG")
    w = Window.orderBy("kb", "id")
    if frame_end is not None:
        w = w.rowsBetween(Window.unboundedPreceding, frame_end)
    want = df.withColumn("o", window_fn().over(w))
    got = scan(df, ["kb", "id"])
    assert sorted((r.id, r.o) for r in got.collect()) == sorted(
        (r.id, r.o) for r in want.collect()
    )


def test_concurrent_intervals_matches_brute_force(spark, sf_dir):
    """The sweep-line step function must equal brute-force overlap
    counting: at each +1 boundary, concurrency == number of intervals
    containing that instant (half-open [start, end))."""
    import datetime

    from kaggle_data_pipeline_with_aws_spark.plans.retrieval import (
        _SESSION_MINUTES,
        q58_concurrent_intervals,
    )
    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("event_id", "ts")
        .collect()
    )
    delta = datetime.timedelta(minutes=_SESSION_MINUTES)
    intervals = [(r.ts, r.ts + delta) for r in views]
    got = q58_concurrent_intervals(spark, sf_dir).collect()
    assert len(got) == 2 * len(views)
    starts = [r for r in got if r.delta == 1]
    for r in starts[:: max(1, len(starts) // 50)]:  # sample ~50 boundaries
        want = sum(1 for (s, e) in intervals if s <= r.bts < e)
        assert r.concurrency == want
    # the sweep must return to zero after the last boundary
    assert sum(r.delta for r in got) == 0


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    from kaggle_data_pipeline_with_aws_spark.plans.retrieval import (
        q57_bm25_search,
    )

    rows = q57_bm25_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_budget_sample_respects_budget_and_order(spark, sf_dir):
    from kaggle_data_pipeline_with_aws_spark.plans.retrieval import (
        _BUDGET_TOKENS,
        d57_token_budget_sample,
    )

    rows = d57_token_budget_sample(spark, sf_dir).collect()
    assert rows
    assert max(r.cum_tokens for r in rows) <= _BUDGET_TOKENS
    # cum is consistent with its own ordering
    ordered = sorted(rows, key=lambda r: (-r.stopword_ratio, r.doc_id))
    run = 0
    for r in ordered:
        run += r.n_tokens
        assert r.cum_tokens == run


def test_duplicated_span_coverage_union_not_double_counted(spark):
    from kaggle_data_pipeline_with_aws_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    # doc 1 and doc 2 share a 9-token run -> two overlapping 8-token
    # spans whose union must count 9 tokens, not 16. doc 3 is unique.
    shared = " ".join(f"w{i}" for i in range(9))
    df = spark.createDataFrame(
        [
            (1, shared + " xxx yyy"),
            (2, "aaa bbb " + shared),
            (3, " ".join(f"u{i}" for i in range(12))),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in duplicated_span_coverage(df, k=8).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["n_tokens"] == 11 and rows[1]["n_dup_tokens"] == 9
    assert rows[2]["n_tokens"] == 11 and rows[2]["n_dup_tokens"] == 9
    assert abs(rows[1]["dup_fraction"] - round(9 / 11, 6)) < 1e-9


def test_duplicated_span_coverage_ignores_intra_doc_repeats(spark):
    from kaggle_data_pipeline_with_aws_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    # A doc repeating its own 8-token phrase twice has NO inter-document
    # duplication -> excluded from the result entirely.
    phrase = " ".join(f"p{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, phrase + " mid " + phrase), (2, "totally different words here")],
        "doc_id int, text string",
    )
    assert duplicated_span_coverage(df, k=8).count() == 0
