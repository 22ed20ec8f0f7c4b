"""Wave-34 semantics: intra-doc repetition (d143), label margin
(d144), label coherence (d145)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.plans import registry, wave34

registry.load_all()
SF = "/root/testdata/sf0.001"


def test_d143_flags_synthetic_looping_text(spark, monkeypatch):
    rows = [
        ("alpha beta gamma delta epsilon " * 10).strip(),  # one 5-gram loop
        "the quick brown fox jumps over a lazy dog near my red barn today",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id LONG, text STRING"
    )
    monkeypatch.setattr(wave34, "load_table", lambda s, d, n: df)
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["d143_intra_doc_repetition"](
            spark, SF
        ).collect()
    }
    assert out[0]["flagged"] and out[0]["dup_ngram_frac"] > 0.9
    assert not out[1]["flagged"] and out[1]["dup_ngram_frac"] == 0.0


def test_d144_margin_consistency(spark):
    rows = registry.QUERIES["d144_label_margin"](spark, SF).collect()
    assert len(rows) == wave34._D144_QUERIES
    for r in rows:
        assert abs(r["margin"] - round(r["pos_cos"] - r["neg_cos"], 6)) < 1e-9
        assert r["suspect"] == (r["pos_cos"] < r["neg_cos"])
        assert r["pos_id"] != r["query_id"] and r["neg_id"] != r["query_id"]


def test_d145_coherence_bounds(spark):
    rows = registry.QUERIES["d145_label_coherence"](spark, SF).collect()
    assert rows
    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

    n_labels = (
        load_table(spark, SF, "embeddings")
        .select("label")
        .distinct()
        .count()
    )
    assert len(rows) == n_labels
    for r in rows:
        assert -1.0 <= r["min_cos"] <= r["mean_cos"] <= 1.0
        assert r["n_vecs"] > 0


def test_d145_centroid_assembly_orders_dims(spark):
    """The collect_list → array_sort(struct(i, m)) assembly must yield
    dimension order regardless of aggregation order."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 1), (1, [0.0, 0.0, 1.0], 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        spread_for_compute,
    )

    comp = (
        spread_for_compute(df)
        .select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    cents = (
        comp.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("m")))
            ).alias("__im")
        )
        .select(
            "label",
            F.transform(F.col("__im"), lambda s: s.getField("m")).alias(
                "cent"
            ),
        )
    )
    [row] = cents.collect()
    assert row["cent"] == [0.5, 0.0, 0.5]
