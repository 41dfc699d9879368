"""Physical-plan regression tests: the scale properties the engine promises
(pushdown, pruning, broadcast dims, partial aggregation, codegen) must appear
in the plans — a correct-but-badly-planned query is a failure here.
"""

from __future__ import annotations

import pytest

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from airflow_cms_inpatient_etl_spark.session import scoped_conf

SF = "/root/testdata/sf0.01"


def _formatted_plan(spark, name: str) -> str:
    df = QUERY_REGISTRY[name].fn(spark, SF)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_and_column_pruning(spark):
    plan = _formatted_plan(spark, "filter_complex_predicates")
    assert "PushedFilters:" in plan
    # every filterable predicate reaches the scan
    for frag in ["GreaterThanOrEqual(l_quantity,5.0)", "In(l_returnflag", "EqualTo(l_linestatus,F)"]:
        assert frag in plan, f"missing pushed filter {frag}"
    # projection pruning: untouched wide columns never read
    assert "l_partkey" not in plan and "l_suppkey" not in plan


def test_flagship_broadcasts_dimension(spark):
    plan = _formatted_plan(spark, "flagship_patient_claims_plus")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan  # the dim side must never shuffle the fact


def test_q1_partial_aggregation(spark):
    plan = _formatted_plan(spark, "q1_pricing_summary")
    import re

    assert "partial_sum" in plan  # map-side combine before the exchange
    # exactly one shuffle, on the group keys (formatted output names each
    # operator twice: once in the tree, once as a "(n) Exchange" detail header)
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_multiway_join_broadcasts_all_dims(spark):
    plan = _formatted_plan(spark, "join_multiway_revenue")
    # customer, nation, region all ride broadcast exchanges
    assert plan.count("BroadcastExchange") >= 3


def test_topk_plans_take_ordered(spark):
    plan = _formatted_plan(spark, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_no_python_udf_in_relational_hot_paths(spark):
    """The relational/dedup/similarity surface must stay JVM-side; Python rows
    appear only in the explicitly-Python multimodal decode stage."""
    for name in [
        "q1_pricing_summary",
        "join_multiway_revenue",
        "dedup_minhash_lsh",
        "sim_cosine_topk_brute",
        "text_quality_scores",
    ]:
        plan = _formatted_plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_merge_asof_grouped_is_jvm_only(spark):
    """The tolerance as-of join (round-3 verdict item #4) must plan with zero
    Python stages: union + carry-forward window, no FlatMapCoGroupsInPandas."""
    from airflow_cms_inpatient_etl_spark.operators.joins import merge_asof_grouped
    from pyspark.sql import functions as SF

    left = spark.range(10).select(
        (SF.col("id") % 3).alias("k"), SF.timestamp_micros(SF.col("id") * 1000).alias("ts")
    )
    right = spark.range(10).select(
        (SF.col("id") % 3).alias("k"),
        SF.timestamp_micros(SF.col("id") * 977).alias("cts"),
        SF.col("id").cast("double").alias("v"),
    )
    out = merge_asof_grouped(left, right, "k", "ts", "cts", ["v"], tolerance_us=5000)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for marker in ("FlatMapCoGroupsInPandas", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_scalar_subquery_is_broadcast(spark):
    plan = _formatted_plan(spark, "filter_scalar_subquery")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "filter_complex_predicates"])
def test_whole_stage_codegen_active(spark, name):
    df = QUERY_REGISTRY[name].fn(spark, SF)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    simple = df._jdf.queryExecution().explainString(mode)
    assert "*" in simple  # codegen'd spans marked with *


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """The 100 TB fact ⋈ filtered-dim shape beyond broadcast size: Spark's
    runtime bloom-filter injection must be live in the engine session
    (enabled + AQE), so the dim filter is hashed into a bloom filter and
    applied at the FACT SCAN (`might_contain`), cutting shuffle volume by the
    dim selectivity.  The thresholds are cluster-calibrated (application side
    > 10 GB), so the rewrite is dormant on local fixtures — the test stands
    in the big-fact regime by zeroing the scan-size threshold and ruling out
    broadcast, then asserts the rewrite actually fires."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    li = load_table(spark, SF, "lineitem")
    orders = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_totalprice") > 500_000)
        .select("o_orderkey")
    )
    with scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        },
    ):
        plan = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "might_contain" in plan  # bloom filter applied at the fact side


def test_interval_attribution_avoids_nested_loop(spark):
    """The no-equi-key interval join must plan as a bin equi-join (shuffle or
    broadcast HASH join), never the O(n·m) nested-loop/cartesian Catalyst
    gives a raw theta join."""
    plan = _formatted_plan(spark, "events_interval_attribution")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_tfidf_vocab_join_is_stats_driven_not_forced(spark):
    """The tf ⋈ df (vocab) join must carry no forced broadcast hint: at 100 TB
    an uncleaned corpus vocabulary outgrows broadcast size, so the join shape
    has to come from runtime stats.  With the default threshold the small
    sf0.01 vocab still broadcasts (stats-driven, free win); with broadcast
    ruled out the same query degrades to a shuffle join instead of OOMing on
    a forced hint.  Only the 1-row n_docs scalar keeps an explicit hint."""
    plan = _formatted_plan(spark, "text_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan  # stats still pick broadcast when small
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _formatted_plan(spark, "text_tfidf_top_terms")
        assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_pipeline_glue_plan_shapes(spark):
    """Round-2 pipeline queries keep their designed physical shapes: the
    stratified sample is shuffle-free with a 2-column pruned scan, the
    decontamination join broadcasts the eval side (never sort-merges the
    training shingles), and shard packing shuffles exactly once (the
    (lang, bucket) packing window)."""
    import re
    plan = _formatted_plan(spark, "sample_language_rebalance")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan

    plan = _formatted_plan(spark, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    plan = _formatted_plan(spark, "pack_token_budget")
    # exactly one shuffle node (match the detail header exactly — a raw
    # substring count would also hit BroadcastExchange), and it must
    # partition by the de-skewed (lang, bucket) window key
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "Window" in plan and re.search(r"hashpartitioning\(lang\S*, bucket", plan)
