"""Query registry entry points.

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (+ the
LLM-data extensions), one named plan each, in registration order.
``oracle_sql()`` — the DuckDB twin of every query. Tier-1
(tests/test_entry.py) checks each query against its twin at sf0.001;
``tools/check_correctness.py`` runs the same check at any scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kaggle_data_pipeline_with_aws_spark.plans import registry

registry.load_all()

SF0001 = "/root/testdata/sf0.001"

# Extra bench-headline ops (bench.py appends these to HEADLINE).
BENCH_EXTRA = [
    "d06_ngram_jaccard",
    "d42_shingle_containment",
    "d110_semdedup",
    "d10_embedding_neardup",
    "d126_dedup_threshold_sweep",
    "d15_ann_ivf",
    "d158_domain_frequency_cap",
    "d162_bpe_train",
    "d174_hll_cardinality",
    "d198_progressive_rerank",
    "d202_unigram_train",
    "d204_nsw_beam_search",
    "d208_nsw_augmented_search",
    "d210_unigram_viterbi_encode",
    "d214_ann_adaptive_probe_search",
    "d216_nsw_layered_search",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary over lineitem) on sf0.001."""
    return registry.QUERIES["q01_pricing_summary"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLE_SQL)
