"""Physical-plan assertions — the scale discipline, enforced.

These tests pin the plan shapes that make the engine viable at 100 TB:
filters reaching the parquet scan, column pruning, broadcast joins for
dimensions, partial+final aggregation, top-k via TakeOrderedAndProject,
and whole-stage codegen in the hot paths.
"""

from __future__ import annotations

from spark_streaming_stream_analyzer_spark import registry
from spark_streaming_stream_analyzer_spark.sources.tables import load_table


def plan_of(spark, sf_dir, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns must not be read
    assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region


def test_stats_partial_final_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_running_stats")
    # map-side combine: partial + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2
    # hot path stays JVM-side: no row-at-a-time Python evaluation
    assert "BatchEvalPython" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = plan_of(spark, sf_dir, "join_semi")
    anti = plan_of(spark, sf_dir, "join_anti")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_scan_projection_pruned_for_tokenize(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "op_flatmap_tokenize")
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in read and "lang" not in read


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_partkey" not in read and "l_returnflag" not in read


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_grouping_sets")
    # one Expand feeding partial+final aggregation - one input scan for
    # all three grouping sets
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1


def test_range_band_join_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_price_band")
    assert "BroadcastNestedLoopJoin" in plan


def test_session_window_stays_jvm_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_session_window")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_embedding_dedup_no_python_in_scoring(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    # cosine scoring is array-expression JVM code, not a Python UDF
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q2_joinback_no_extra_shuffle_and_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    # part/supplier/nation/min-join-back: dims broadcast; costs↔mins
    # join-back co-partitioned on l_partkey
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BatchEvalPython" not in plan


def test_q8_single_fact_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q8_market_share")
    # all seven dimension paths broadcast; lineitem⋈orders is the only
    # join shuffle
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") <= 1


def test_q13_left_outer_preserves_zero_bucket(spark, sf_dir):
    df = registry.QUERIES["q13_customer_distribution"](spark, sf_dir)
    counts = {r["c_count"]: r["custdist"] for r in df.collect()}
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    # LEFT OUTER: every customer lands in exactly one bucket
    assert sum(counts.values()) == n_cust


def test_q18_aggregates_before_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q18_large_volume_customer")
    # lineitem collapses to per-order rows BEFORE joining orders: the
    # HashAggregate pair must appear under the join, customer broadcast
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan


def test_q16_count_distinct_no_python(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q16_part_supplier_counts")
    assert "BatchEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_anomaly_zscore_broadcasts_moments(spark, sf_dir):
    # the 2-pass pattern: tiny per-group moment table broadcast back,
    # fact scan never shuffles, no Python in the flag expression
    plan = plan_of(spark, sf_dir, "anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_q11_broadcasts_scalar_total(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q11_important_values")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final on l_partkey


def test_salted_join_spreads_key(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_salted_skew")
    # salt column becomes part of the join key → hash exchange on both
    # (orderkey, salt) sides, not on orderkey alone
    assert "salt" in plan


def test_event_time_pack_prunes_and_aggregates_once(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "fn_event_time_pack")
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "ts" in read and "event_type" in read
    assert "props" not in read and "value" not in read  # pruned
    # one partial/final pair -> exactly one shuffle, no Python
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "EvalPython" not in plan


def test_events_clock_window_pushed_to_scan(spark, sf_dir):
    """The events ingest clock window (``clean_measurements``) reaches
    the parquet scan as both ``ts`` bounds, so out-of-window row groups
    are skipped and no per-row conversion runs above the scan."""
    df = load_table(spark, sf_dir, "events")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "GreaterThanOrEqual(ts,1990-01-01T00:00)" in pushed
    assert "LessThan(ts,2100-01-01T00:00)" in pushed


def test_rolling_window_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ts_rolling_window_1h")
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "Window" in plan
    assert "EvalPython" not in plan


def test_gap_stats_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ts_gap_stats")
    # window and the per-user aggregate share the user_id partitioning:
    # the aggregate must NOT add a second shuffle
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "EvalPython" not in plan


def test_fingerprint_overlap_no_nested_loop(spark, sf_dir):
    """The pair join must be the inverted-index equi-join, never a
    cartesian/BNLJ pairing of documents."""
    plan = plan_of(spark, sf_dir, "dedup_fingerprint_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assoc_rules_broadcast_and_topk(spark, sf_dir):
    """Item frequencies and the basket count ride as broadcasts; the
    top-K is TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, sf_dir, "assoc_rules_pairs")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_pair_joins_are_hash_or_merge(spark, sf_dir):
    """The path/closing joins must be KEYED — broadcast-hash at
    fixture scale (the checkpointed edge list is small and Catalyst
    knows it), sort-merge/shuffled-hash once stats outgrow the
    broadcast threshold. The only nested-loop allowed is the final
    1-row x 1-row scalar crossJoin of the two aggregates."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    keyed = sum(
        plan.count(n)
        for n in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert keyed >= 2, f"expected keyed path+closing joins, got:\n{plan}"
    # scalar-combine BNLJ appears at most once (stats x tri)
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pipeline_pretrain_shuffles_bounded_and_textless(spark, sf_dir):
    """The end-to-end corpus build re-keys three times (dedup hash,
    source quota, source packing) + the final aggregate — and no
    exchange may carry the document text."""
    plan = plan_of(spark, sf_dir, "pipeline_pretrain_corpus")
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert 0 < len(exchanges) <= 5, plan[:2000]
    assert all("text" not in ln for ln in exchanges)


def test_reservoir_two_phase_ranking(spark, sf_dir):
    """Both ranking phases must appear (salted partial + final) — the
    single-window form would funnel each source through one task."""
    plan = plan_of(spark, sf_dir, "sample_reservoir_group")
    assert plan.count("row_number") >= 2
    # the heavy phase-1 exchange partitions by (source, salt), not
    # source alone
    assert "pmod" in plan or "%" in plan


def test_zorder_stays_native_and_pruned(spark, sf_dir):
    """The 32-term Morton interleave must stay a native Project (no
    Python anywhere) over a two-column pruned scan."""
    plan = plan_of(spark, sf_dir, "layout_zorder_stats")
    assert "shiftleft" in plan  # interleave evaluated JVM-side
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate" in plan
