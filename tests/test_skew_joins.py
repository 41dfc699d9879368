"""Skew-handling operators: salted join/aggregate equal their unsalted
counterparts; grouped merge_asof matches the carry-forward as-of query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.joins import (
    merge_asof_grouped,
    salted_aggregate,
    salted_join,
)
from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.sources.registry import load_table
from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "o_custkey").select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (99, "orphan")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, d string")
    out = salted_join(fact, dim, "k", n_salts=4, how="left").collect()
    by_key = {r["k"]: r["d"] for r in out}
    assert by_key == {1: "x", 2: "y", 99: None}


def test_salted_join_rejects_full_outer(spark):
    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(fact, fact, "k", how="full")


def test_salted_aggregate_equals_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": (F.count(F.lit(1)), F.sum),
            "sum_qty": (F.sum("l_quantity"), F.sum),
            "min_qty": (F.min("l_quantity"), F.min),
            "max_qty": (F.max("l_quantity"), F.max),
        },
    )
    p = {r["l_returnflag"]: (r["n"], round(r["sum_qty"], 4), r["min_qty"], r["max_qty"]) for r in plain.collect()}
    s = {r["l_returnflag"]: (r["n"], round(r["sum_qty"], 4), r["min_qty"], r["max_qty"]) for r in salted.collect()}
    assert p == s


def test_merge_asof_grouped_matches_carry_forward(spark):
    """The pandas merge_asof operator agrees with the pure-DataFrame as-of
    query on (user, purchase-ts) → last click ts."""
    e = load_table(spark, SF_SMOKE, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value"))
        .dropDuplicates(["user_id", "click_ts"])
    )
    out = merge_asof_grouped(
        purchases.select("user_id", "ts"),
        clicks.withColumnRenamed("click_ts", "cts"),
        key="user_id",
        left_ts="ts",
        right_ts="cts",
        right_value_cols=["click_value"],
    )
    # compare against the registered as-of query's semantics
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    expected = QUERY_REGISTRY["events_asof_last_click"].fn(spark, SF_SMOKE)
    exp = {(r["user_id"], r["ts"]): r["last_click_ts"] for r in expected.collect()}
    got_rows = out.collect()
    assert len(got_rows) == len(exp)
    # merge_asof returns the click's value; map back via the clicks table
    click_ts_by_value = {
        (r["user_id"], r["click_value"]): r["click_ts"] for r in clicks.collect()
    }
    for r in got_rows:
        want_ts = exp[(r["user_id"], r["ts"])]
        if r["click_value"] is None:
            assert want_ts is None
        else:
            assert click_ts_by_value[(r["user_id"], r["click_value"])] == want_ts


def test_merge_asof_bucketed_hot_key(spark):
    """One key owning ~90% of rows: the time-bucketed cogroup splits its
    history across buckets (no single pandas task holds it all) and the
    result still matches a driver-side pd.merge_asof oracle."""
    import pandas as pd

    base = 1_700_000_000_000_000  # µs epoch
    minute = 60 * 1_000_000
    # hot user 1: 540 left rows + 540 right rows over 9 hours; cold users 2-61: 1 row each
    left_rows = [(1, base + i * minute) for i in range(0, 540 * 10, 10)]
    left_rows += [(u, base + u * minute) for u in range(2, 62)]
    right_rows = [(1, base + i * minute + 17, float(i)) for i in range(0, 540 * 10, 10)]
    right_rows += [(u, base + u * minute - 5, float(u)) for u in range(2, 62)]
    left = spark.createDataFrame(left_rows, "user_id long, ts_us long").select(
        "user_id", F.timestamp_micros("ts_us").alias("ts")
    )
    right = spark.createDataFrame(right_rows, "user_id long, ts_us long, v double").select(
        "user_id", F.timestamp_micros("ts_us").alias("cts"), "v"
    )
    tol = 30 * minute
    out = merge_asof_grouped(left, right, "user_id", "ts", "cts", ["v"], tolerance_us=tol)
    got = {(r["user_id"], r["ts"]): r["v"] for r in out.collect()}
    # driver-side oracle over the full (unbucketed) data
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("cts")
    exp = pd.merge_asof(
        lp, rp, left_on="ts", right_on="cts", by="user_id",
        tolerance=pd.Timedelta(microseconds=tol), direction="backward",
    )
    assert len(got) == len(lp)
    for _, r in exp.iterrows():
        want = None if pd.isna(r["v"]) else r["v"]
        assert got[(r["user_id"], r["ts"])] == want
    # the hot key really is split: its rows span many time buckets
    n_buckets = (
        left.filter(F.col("user_id") == 1)
        .select(F.floor(F.unix_micros("ts") / F.lit(tol)).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets > 5


def test_merge_asof_bucket_smaller_than_tolerance_rejected(spark):
    left = spark.createDataFrame([(1, 0)], "user_id long, ts_us long").select(
        "user_id", F.timestamp_micros("ts_us").alias("ts")
    )
    with pytest.raises(ValueError, match="bucket_us"):
        merge_asof_grouped(
            left, left.withColumnRenamed("ts", "cts"), "user_id", "ts", "cts", [],
            tolerance_us=1_000_000, bucket_us=999,
        )


def test_merge_asof_with_tolerance(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (1, "2024-01-01 02:00:00")], "user_id long, ts_s string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:09:00", 5.0)], "user_id long, cts_s string, click_value double"
    ).select("user_id", F.col("cts_s").cast("timestamp").alias("cts"), "click_value")
    out = merge_asof_grouped(
        left, right, "user_id", "ts", "cts", ["click_value"], tolerance_us=30 * 60 * 1_000_000
    ).collect()
    by_ts = {str(r["ts"]): r["click_value"] for r in out}
    assert by_ts["2024-01-01 00:10:00"] == 5.0  # within 30 min
    assert by_ts["2024-01-01 02:00:00"] is None  # beyond tolerance


@pytest.mark.slow
def test_binned_interval_join_equals_theta_join(spark):
    """Property: binned_interval_join output == the naive theta join for any
    bin width, including intervals spanning many bins, empty/degenerate
    intervals (hi <= lo match nothing, no runtime error), and boundary points
    (lo inclusive, hi exclusive)."""
    from airflow_cms_inpatient_etl_spark.operators.joins import binned_interval_join

    points = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 5, 10, 99, 100, 101, 250, 999])],
        "pid long, p long",
    )
    intervals = spark.createDataFrame(
        [
            (0, 0, 10),      # [0,10): catches 0,5 — not 10 (hi exclusive)
            (1, 10, 11),     # single-point interval
            (2, 90, 260),    # spans many bins
            (3, 500, 500),   # degenerate: matches nothing
            (4, 600, 550),   # reversed: matches nothing, must not error
        ],
        "iid long, lo long, hi long",
    )
    expected = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals, (points.p >= intervals.lo) & (points.p < intervals.hi)
        ).collect()
    }
    assert expected  # the fixture actually exercises matches
    for bin_width in (1, 7, 100, 10_000):
        got = {
            (r["pid"], r["iid"])
            for r in binned_interval_join(points, intervals, "p", "lo", "hi", bin_width).collect()
        }
        assert got == expected, f"bin_width={bin_width}"


def test_aqe_splits_skewed_sort_merge_join_at_runtime(spark):
    """The runtime complement to the explicit salted operators: when one key
    owns 90 % of a big-big join's rows, AQE must detect the oversized
    shuffle partition from ACTUAL map output sizes and split it across
    tasks (SortMergeJoin(skew=true) reading an 'AQEShuffleRead skewed')
    with byte-identical results.  Thresholds are scoped down so fixture-
    sized data crosses them; a production cluster keeps the defaults and
    gets the same behavior at real partition sizes — this is the engine's
    no-code-change answer to skew, with salting as the explicit fallback
    for the aggregation case AQE does not cover."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ path
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    with scoped_conf(spark, confs):
        left = spark.range(150_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 100 + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("rv")
        )
        j = left.join(right, "k")
        rows = j.collect()  # executes THIS QueryExecution -> final AQE plan
        assert len(rows) == 150_000  # every left row matches exactly one right
        assert all(r["rv"] == r["k"] * 7 for r in rows[:1000])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:800]
        assert "AQEShuffleRead skewed" in plan
