"""Semantic unit tests for wave 8 (q75-q77, d82)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.plans import registry
from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

registry.load_all()
Q = registry.QUERIES
SF = "/root/testdata/sf0.001"


def test_q75_sequences_match_brute_force(spark):
    rows = Q["q75_event_sequence_detection"](spark, SF).collect()
    ev = load_table(spark, SF, "events").collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    expected = set()
    two_h = 7200.0
    for uid, es in by_user.items():
        views = [e for e in es if e["event_type"] == "view"]
        clicks = [e for e in es if e["event_type"] == "click"]
        purch = [e for e in es if e["event_type"] == "purchase"]
        for v in views:
            for c in clicks:
                dt1 = (c["ts"] - v["ts"]).total_seconds()
                if not (0 < dt1 <= two_h):
                    continue
                for p in purch:
                    dt2 = (p["ts"] - c["ts"]).total_seconds()
                    if 0 < dt2 <= two_h:
                        expected.add(
                            (uid, v["event_id"], c["event_id"], p["event_id"])
                        )
    got = {
        (r["user_id"], r["view_id"], r["click_id"], r["purchase_id"])
        for r in rows
    }
    assert got == expected
    for r in rows:
        assert 0 < r["funnel_us"] <= 2 * 7200 * 1_000_000


def test_q76_cumulative_is_monotone_and_ends_at_distinct(spark):
    rows = Q["q76_cumulative_unique_users"](spark, SF).collect()
    assert rows
    ev = load_table(spark, SF, "events")
    finals = {}
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["day"])
        cums = [r["cumulative_users"] for r in rs]
        assert cums == sorted(cums)
        assert cums[-1] == sum(r["n_new"] for r in rs)
        finals[et] = cums[-1]
    expected = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert finals == expected


def test_q77_skew_audit_identifies_heaviest_keys(spark):
    rows = Q["q77_join_skew_audit"](spark, SF).collect()
    assert len(rows) == 10
    o = load_table(spark, SF, "orders")
    freq = {
        r["o_custkey"]: r["n"]
        for r in o.groupBy("o_custkey").agg(F.count("*").alias("n")).collect()
    }
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["key"], r["n"]) for r in sorted(rows, key=lambda r: r["rk"])]
    assert got == top
    mean_n = sum(freq.values()) / len(freq)
    for r in rows:
        assert abs(r["skew_factor"] - round(r["n"] / mean_n, 6)) < 1e-9


def test_d82_deciles_partition_the_corpus_evenly(spark):
    rows = Q["d82_perplexity_buckets"](spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile balance
    # deciles are ordered by quality score
    by_decile = sorted(rows, key=lambda r: r["decile"])
    lps = [r["avg_logprob"] for r in by_decile]
    assert lps == sorted(lps)


def test_d82_decile_formula_matches_ntile_at_uneven_n(spark, monkeypatch):
    """The prefix-sum decile must reproduce SQL ntile(10) EXACTLY when
    10 does not divide n (ntile gives the first n mod 10 buckets one
    extra row — a plain ceil(rank*10/n) would distribute the remainder
    differently)."""
    from pyspark.sql import Window

    from kaggle_data_pipeline_with_aws_spark.plans import wave8

    for n in (13, 27, 10, 9, 101):
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(i % 7 + 3))) for i in range(n)],
            "doc_id LONG, text STRING",
        )
        monkeypatch.setattr(wave8, "load_table", lambda s, d, name: docs)
        got = {
            r["decile"]: r["n_docs"]
            for r in wave8.d82_perplexity_buckets(spark, "ignored").collect()
        }
        # reference: Spark's own ntile over the identical ordering,
        # recomputed from the same scoring pipeline
        from kaggle_data_pipeline_with_aws_spark.operators import text as text_ops

        tok = docs.select(
            "doc_id", F.explode(text_ops.tokens("text")).alias("term")
        ).filter(F.col("term") != "")
        counts = tok.groupBy("term").agg(F.count("*").alias("cnt"))
        total = tok.agg(F.count("*").alias("total"))
        scored = (
            tok.join(F.broadcast(counts), "term")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(
                F.avg(
                    F.log2(F.col("cnt").cast("double") / F.col("total"))
                ).alias("lp")
            )
        )
        w = Window.orderBy(F.round(F.col("lp"), 6).asc(), F.col("doc_id").asc())
        expected_rows = scored.withColumn(
            "decile", F.ntile(10).over(w).cast("int")
        ).collect()
        expected: dict[int, int] = {}
        for r in expected_rows:
            expected[r["decile"]] = expected.get(r["decile"], 0) + 1
        assert got == expected, f"n={n}"
