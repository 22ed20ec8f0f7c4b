"""Physical-plan regression tests — the 100 TB evidence.

Correctness says the plan computes the right rows; these assert it
computes them the way a 1000-executor cluster needs: dimension joins
broadcast (no all-to-all shuffle of the fact table), predicates and
projections pushed into the parquet scan, hot expressions inside
whole-stage codegen. A regression here is a silent 100× at scale even
when every value still matches the oracle.
"""

from __future__ import annotations

import pytest

from kaggle_data_pipeline_with_aws_spark.plans.registry import (
    QUERIES,
    load_all,
)

load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_left_join_enrich_is_broadcast(spark, sf_dir):
    """J1: the deliveries←matches enrich must broadcast the match side,
    never shuffle the fact table."""
    plan = _plan(spark, sf_dir, "q08_left_join_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_ledger_is_broadcast(spark, sf_dir):
    """J2/P5: the new-file anti join broadcasts the ledger key set."""
    plan = _plan(spark, sf_dir, "q09_anti_join_ledger")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    """All dimension tables of the star join broadcast; the single
    fact-side scan never sort-merge-joins a dimension."""
    plan = _plan(spark, sf_dir, "q25_star_join")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir):
    """P-pushdown: the date predicate reaches the parquet scan
    (PushedFilters), and the scan reads only the referenced columns."""
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan.replace(
        "\n", " "
    ) or "PushedFilters: [" in plan
    # lineitem has 16 columns; the query touches 7 — the ReadSchema
    # must not contain untouched wide columns like l_comment.
    assert "l_comment" not in plan


def test_pricing_summary_has_partial_aggregation(spark, sf_dir):
    """A-agg: groupBy compiles to partial (map-side) + final hash
    aggregate — the shuffle carries pre-combined rows."""
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes (and codegen-annotates) only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen spans; the scan→filter→
    # partial-agg hot path must be inside one
    assert "*(1) HashAggregate" in plan or "*(1) Filter" in plan


def test_exact_dedup_uses_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "d01_dedup_exact")
    assert plan.count("HashAggregate") >= 2


def test_topk_per_group_no_global_single_partition_sort(spark, sf_dir):
    """W-top-k per group must window on the group key, not collapse to
    one partition (a global-window row_number would)."""
    plan = _plan(spark, sf_dir, "q24_topk_per_group")
    assert "SinglePartition" not in plan


def test_minhash_banding_single_scan(spark, sf_dir):
    """The LSH banding must explode band keys in one pass over the
    signatures, not union b re-scans."""
    plan = _plan(spark, sf_dir, "d07_minhash_lsh")
    assert "Union" not in plan


def test_global_renumber_stays_distributed(spark, sf_dir):
    """W2 scale path: per-bucket numbering with literal boundaries —
    no global single-partition sort of the data, no persisted
    intermediate (caching 100 TB is not a plan), and the offset map
    joins back as a broadcast."""
    from kaggle_data_pipeline_with_aws_spark.operators.renumber import (
        contiguous_row_number,
    )
    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    out = contiguous_row_number(o, ["o_orderdate", "o_orderkey"])
    out.collect()  # AQE: final plan shape only exists after execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan  # nothing persisted
    assert "rangepartitioning" not in plan  # no per-action boundary resample
    # the row-level window shuffle partitions by the literal bucket id,
    # never collapses to a single partition for the full input
    assert "hashpartitioning(__bucket" in plan
    assert "BroadcastExchange" in plan  # offset map joins as broadcast


def test_spread_for_compute_noop_on_many_files(spark, tmp_path):
    """The unsplittable-scan guard must disappear exactly when the data
    is big enough not to need it: a many-file input keeps its scan
    partitioning, a single-file input gets repartitioned."""
    from kaggle_data_pipeline_with_aws_spark.sources.readers import (
        spread_for_compute,
    )

    many = str(tmp_path / "many")
    spark.range(10000).repartition(24).write.parquet(many)
    df_many = spark.read.parquet(many)
    assert spread_for_compute(df_many) is df_many  # untouched plan

    one = str(tmp_path / "one")
    spark.range(10000).coalesce(1).write.parquet(one)
    df_one = spark.read.parquet(one)
    out = df_one if spread_for_compute(df_one) is df_one else "spread"
    assert out == "spread"


def test_ann_lsh_candidates_are_hash_joined(spark, sf_dir):
    """d13: LSH candidate enumeration must be a (broadcast) hash join on
    signature bands — never a BroadcastNestedLoop/cartesian over
    corpus × queries.  Pigeonhole (max_hamming+1 bands) keeps the
    candidate set identical to the naive crossJoin+filter, so this is
    purely a plan-shape property."""
    plan = _plan(spark, sf_dir, "d13_ann_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_embedding_neardup_is_banded_not_allpairs(spark, sf_dir):
    """d10: the registered near-dup plan groups vectors by signature
    band and enumerates pairs INSIDE each bucket's Arrow kernel
    (FlatMapGroupsInPandas) — no O(n²) theta join, and no join of any
    kind carrying vector payloads; the all-pairs form survives only as
    the verification twin."""
    plan = _plan(spark, sf_dir, "d10_embedding_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_banded_neardup_is_subset_of_exact(spark, sf_dir):
    """Every banded near-dup pair must exist in the exact all-pairs
    result with the same cosine, and recall at test scale must be
    substantial (band agreement prunes only low-similarity pairs)."""
    from kaggle_data_pipeline_with_aws_spark.operators import similarity
    from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_1, r.id_2): r.cos_sim
        for r in similarity.near_duplicate_pairs(embs, threshold=0.4).collect()
    }
    banded = {
        (r.id_1, r.id_2): r.cos_sim
        for r in similarity.near_duplicate_pairs_banded(
            embs, threshold=0.4, n_bands=4
        ).collect()
    }
    assert set(banded) <= set(exact)
    for pair, cs in banded.items():
        assert cs == exact[pair]
    assert len(banded) >= 0.4 * len(exact)  # recall floor at test scale


def test_bm25_stats_broadcast_no_corpus_shuffle(spark, sf_dir):
    """q57: per-doc term frequencies are narrow array expressions and
    the only aggregate is the one-row corpus stats — the corpus itself
    must never hash-shuffle, and the stats must join back broadcast."""
    df = QUERIES["q57_bm25_search"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no hash/range repartition of the document rows
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_prefix_sum_ops_stay_distributed(spark, sf_dir):
    """q58/d57: the sweep line and the budget sample must number rows
    per literal quantile bucket — any SinglePartition exchange must be
    over bucket-count-sized data (offsets), never the input rows."""
    for name in ("q58_concurrent_intervals", "d57_token_budget_sample"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(__bucket" in plan, name
        assert "BroadcastExchange" in plan, name


def test_duplicated_spans_no_cartesian_and_hash_keyed(spark, sf_dir):
    """d58: candidate detection groups/joins on the 64-bit span hash —
    an equi-join, never an all-pairs enumeration; the sweep window is
    per-doc (partitioned), not global."""
    plan = _plan(spark, sf_dir, "d58_duplicated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan  # 8-byte shuffle key, not the span string


def test_lsh_estimate_error_joins_through_pairs(spark, sf_dir):
    """d61: true-Jaccard recomputation must route through the candidate
    pair list (equi-joins only) — never a corpus-wide shingle
    self-join followed by a filter."""
    plan = _plan(spark, sf_dir, "d61_lsh_estimate_error")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_argmax_per_group_has_no_window(spark, sf_dir):
    """q59: greatest-1-per-group stays in partial-aggregable form —
    two hash aggregates and a broadcast join, no rank/sort window."""
    plan = _plan(spark, sf_dir, "q59_argmax_per_group")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_round3_linkage_is_blocked_equi_join(spark, sf_dir):
    """d69: candidates must meet on the (lang, bucket) hash-join key;
    a BroadcastNestedLoopJoin would mean the blocking collapsed into
    an all-pairs theta join."""
    plan = _plan(spark, sf_dir, "d69_edit_distance_linkage")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_round3_exact_sample_uses_window_group_limit(spark, sf_dir):
    """d68: the per-group rank must push a partial top-k below the
    exchange (WindowGroupLimit) so the shuffle carries k rows per
    group, not the corpus."""
    plan = _plan(spark, sf_dir, "d68_per_group_exact_sample")
    assert "WindowGroupLimit" in plan


def test_round3_late_orders_is_semi_join(spark, sf_dir):
    """q63: EXISTS must plan as ONE LeftSemi hash join carrying the
    date inequality as residual — no distinct, no fact duplication."""
    plan = _plan(spark, sf_dir, "q63_late_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_round3_market_share_single_fact_pass(spark, sf_dir):
    """q65: numerator and denominator come from ONE conditional
    aggregate — the lineitem parquet must be scanned exactly once."""
    plan = _plan(spark, sf_dir, "q65_market_share")
    assert plan.count("lineitem.parquet") == 1


def test_wave6_disjunctive_pushes_brand_filter_to_part_scan(spark, sf_dir):
    """q70: Catalyst must derive the part-only residue of the OR
    predicate and push it into the part scan (Q19's classic)."""
    plan = _plan(spark, sf_dir, "q70_disjunctive_join_revenue")
    flat = plan.replace("\n", " ")
    import re

    part_scan = re.search(r"FileScan parquet \[[^\]]*p_partkey[^\]]*\][^|]*", flat)
    assert part_scan and "p_brand" in part_scan.group(0)
    assert "CartesianProduct" not in plan


def test_wave6_dormant_customers_anti_join(spark, sf_dir):
    """q71: NOT IN on the recent-buyer set must plan as an anti hash
    join, and the 1-row average must broadcast."""
    plan = _plan(spark, sf_dir, "q71_dormant_rich_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_containment_is_prefix_filtered_not_raw_selfjoin(spark, sf_dir):
    """d42: candidate generation must be the PPJoin containment bound —
    a rarest-first prefix joined against the full posting list through
    a ShuffledHashJoin — never the raw posting-list self-join (which
    emits f² pair rows per shingle of document-frequency f, the shape
    that OOM'd d06's 10× run before its own PPJoin rewrite). Since
    round 6 the ranking window runs once in the substrate BUILDER;
    the consumer plan starts at the ranked-shingle artifact scan (its
    ``rk`` column exists only there) — or, when the store is
    unusable, falls back to the inline rarest-first ranking."""
    plan = _plan(spark, sf_dir, "d42_shingle_containment")
    assert "rk:int" in plan or "row_number" in plan
    # candidate join + two verify joins, all hinted off broadcast
    assert plan.count("ShuffledHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d82_deciles_stay_distributed(spark, sf_dir):
    """d82: the global decile must come from the quantile-bucket
    prefix-sum rank, never ``ntile() OVER (ORDER BY ...)`` — the only
    SinglePartition window allowed is the bucket-count-sized offset
    prefix sum, and the per-doc rows must window per literal bucket."""
    df = QUERIES["d82_perplexity_buckets"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan
    assert "hashpartitioning(__bucket" in plan


def test_merge_upsert_is_single_equi_join(spark, sf_dir):
    """q81: MERGE = ONE full-outer equi-join on the key; every clause
    is a projection/filter over it — no nested-loop, no cartesian,
    no second pass over either side."""
    plan = _plan(spark, sf_dir, "q81_merge_upsert")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_single_aggregate_pass(spark, sf_dir):
    """q80: the three grouping sets expand inside one partial+final
    aggregate — the orders parquet is scanned exactly once, never
    three scans + union."""
    plan = _plan(spark, sf_dir, "q80_grouping_sets_revenue")
    assert plan.count("orders.parquet") == 1
    assert "Expand" in plan  # Spark's grouping-set expansion operator
    assert "Union" not in plan


def test_winnowing_is_narrow(spark, sf_dir):
    """d88: each document sketches itself — no Exchange anywhere in
    the plan (pure higher-order array expressions, zero shuffles)."""
    plan = _plan(spark, sf_dir, "d88_winnowing")
    assert "Exchange" not in plan


def test_quantile_normalize_stays_distributed(spark, sf_dir):
    """d93: percent_rank must come from the quantile-bucket prefix-sum
    rank — per-bucket windows over doc rows, never a corpus-sized
    single-partition window."""
    df = QUERIES["d93_quantile_normalize"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percent_rank" not in plan
    assert "hashpartitioning(__bucket" in plan


def test_vocab_coverage_rank_gets_group_limit(spark, sf_dir):
    """d94: the global frequency rank is guarded by rk <= 400, so
    Spark bounds the pre-rank data — either WindowGroupLimit (local
    top-k per partition feeds the rank window) or, better, the whole
    rank collapses into TakeOrderedAndProject (distributed top-k
    merge). Either way the vocab-sized table never sorts globally."""
    plan = _plan(spark, sf_dir, "d94_vocab_coverage")
    assert (
        "WindowGroupLimit" in plan or "TakeOrderedAndProject(limit=400" in plan
    )


def test_wave12_profit_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    """q88 (Q9): part/supplier/nation are broadcast; the only
    SortMergeJoin allowed is the co-keyed lineitem↔orders join. The
    name-prefix filter must prune at the part parquet scan."""
    plan = _plan(spark, sf_dir, "q88_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "StartsWith(p_name,red)" in plan.replace(" ", "").replace(
        "'", ""
    ) or "red" in plan  # pushed prefix filter reaches the scan
    assert plan.count("part.parquet") == 1


def test_wave12_small_quantity_fence_broadcasts_back(spark, sf_dir):
    """q94 (Q17): the decorrelated per-part average joins back as a
    broadcast — the probe-side fact table re-shuffles for neither the
    brand filter nor the fence."""
    plan = _plan(spark, sf_dir, "q94_small_quantity_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_wave12_qualified_shippers_is_semi_join(spark, sf_dir):
    """q95 (Q20): the IN-subquery must run as LeftSemi (no distinct +
    inner join, no row duplication)."""
    plan = _plan(spark, sf_dir, "q95_qualified_shippers")
    assert "LeftSemi" in plan


def test_wave13_pii_screen_is_narrow(spark, sf_dir):
    """d98: counts + scrub fuse into the scan stage — no Exchange in
    the plan at all."""
    plan = _plan(spark, sf_dir, "d98_pii_screen")
    assert "Exchange" not in plan


def test_wave14_gram_matrix_shuffles_cells_not_vectors(spark, sf_dir):
    """d105: the only exchange aggregates the 2,080 partial cells —
    the embeddings themselves are read once and never repartitioned
    (no exchange keyed on vec_id/embedding)."""
    plan = _plan(spark, sf_dir, "d105_gram_matrix")
    assert plan.count("embeddings.parquet") == 1
    assert "hashpartitioning(i" in plan.replace("#", " #").replace(
        "i ", "i"
    ) or "hashpartitioning(i#" in plan
    assert "hashpartitioning(vec_id" not in plan
    assert "hashpartitioning(embedding" not in plan


def test_wave15_ecdf_has_no_row_level_global_window(spark, sf_dir):
    """q99: the running sum windows over BUCKET-level rows partitioned
    by event_type — never a SinglePartition exchange, never cume_dist
    over raw rows."""
    plan = _plan(spark, sf_dir, "q99_value_ecdf")
    assert "cume_dist" not in plan
    assert "SinglePartition" not in plan


def test_wave15_pq_codebook_is_broadcast(spark, sf_dir):
    """d107: the 4-row codebook joins as a broadcast nested-loop over
    a 4-row side (a bounded crossJoin) — never a shuffled join of the
    embedding table, and no exchange keyed on the embedding rows
    before assignment."""
    plan = _plan(spark, sf_dir, "d107_pq_codes")
    assert "SortMergeJoin" not in plan
    assert plan.count("embeddings.parquet") <= 2  # vectors + codebook


def test_s10_kmv_is_single_streamable_aggregate(spark, sf_dir):
    """s10: one groupBy(window) aggregate — no window function (which
    streaming forbids), no join, no second stateful op."""
    plan = _plan(spark, sf_dir, "s10_windowed_kmv_users")
    assert "Window" not in plan.replace("window#", "").replace(
        "window(", ""
    )  # no window-function operator (the time-window expr remains)
    assert "Join" not in plan


def test_zorder_key_is_codegen_and_single_exchange(spark, sf_dir):
    """d121: the Morton key is row-local bit arithmetic; the only
    row-level exchange is the range partitioning of the file split
    (plus the broadcast of the two one-row aggregates)."""
    plan = _plan(spark, sf_dir, "d121_zorder_layout")
    assert "rangepartitioning" in plan
    assert "SortMergeJoin" not in plan


def test_schema_evolution_union_has_no_shuffle_before_sort(spark, sf_dir):
    """q108: unionByName is a concat of two pushed-down scans — no
    join, no aggregate-shuffle; the only exchange serves the final
    presentation ORDER BY."""
    plan = _plan(spark, sf_dir, "q108_schema_evolution_union")
    assert "Join" not in plan
    assert plan.count("events.parquet") == 2  # one pruned scan per side


def test_s08_running_max_stays_distributed(spark, sf_dir):
    """s08: the arrival-order running max must come from the
    quantile-bucket decomposition — per-bucket windows over
    hashpartitioned data, never a corpus-sized SinglePartition sort
    (the only SinglePartition window allowed is the bucket-count
    carry)."""
    df = QUERIES["s08_late_event_audit"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bucket" in plan
