"""Round-14 additions: the Dawid-Skene EM step's fixed-point and
tie-break properties, the crawl link-graph's self-link / relative-link
discipline and rank-mass conservation, and the revisit policy's internal
consistency (bucket/due/priority can never disagree)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from airflow_cms_inpatient_etl_spark.queries.analytics import _DS_SCALE, _ds_em
from tests.conftest import SF_SMOKE


# --------------------------------------------------------------------------- #
# Dawid-Skene: unanimous ballots are a FIXED POINT — every confusion matrix   #
# is diagonal, so the re-weighted election returns the unanimous label with   #
# score n_votes * 1e6 and relabels nothing.                                    #
# --------------------------------------------------------------------------- #
def test_ds_em_unanimous_ballots_are_fixed_point(spark):
    rows = [
        (item, f"a{a}", f"label_{item % 3}")
        for item in range(12)
        for a in range(5)
    ]
    votes = spark.createDataFrame(rows, "item_id long, annotator string, label string")
    out = _ds_em(votes).collect()
    assert len(out) == 12
    # each annotator saw 4 items per truth class; alphabet = 3 labels ->
    # Laplace-smoothed diagonal rate (4+1)*1e6 // (4+3), five ballots each
    diag = (4 + 1) * _DS_SCALE // (4 + 3)
    for r in out:
        assert r["ds_label"] == f"label_{r['item_id'] % 3}"
        assert r["ds_label"] == r["majority_label"]
        assert not r["relabeled"]
        assert r["n_votes"] == 5
        assert r["ds_score_ppm"] == 5 * diag


def test_ds_em_downweights_known_bad_annotator(spark):
    """Three reliable annotators + two systematic flippers: on most items the
    reliable majority wins 3-2; on the probe item one reliable rater is
    missing (2-2 raw tie, tie-break would pick the alphabetically smaller
    WRONG label) — the EM step must break the tie toward the label the
    RELIABLE annotators cast.  The load-bearing DS property: a SYSTEMATIC
    flipper's 'bad' vote is smoothed-strong evidence FOR 'good'
    (P(flipper says bad | good) ~ 0.91), while the saturated single-item
    'bad' truth rows are Laplace-damped to ~0.67 — so 'good' wins the
    re-weighted election that raw majority loses."""
    rows = []
    for item in range(10):
        truth = "good"
        for a in ("r1", "r2", "r3"):
            if item == 9 and a == "r3":
                continue  # the probe item loses one reliable ballot
            rows.append((item, a, truth))
        for a in ("f1", "f2"):
            rows.append((item, a, "bad"))  # systematic flip, every item
    votes = spark.createDataFrame(rows, "item_id long, annotator string, label string")
    out = {r["item_id"]: r for r in _ds_em(votes).collect()}
    # raw majority on item 9 ties 2-2 and elects 'bad' (label-asc tie-break)
    assert out[9]["majority_label"] == "bad"
    # ...but the EM step relabels it to the reliable annotators' vote
    assert out[9]["ds_label"] == "good"
    assert out[9]["relabeled"]
    # every other item is uncontested and stays put
    for item in range(9):
        assert out[item]["ds_label"] == "good" and not out[item]["relabeled"]


# --------------------------------------------------------------------------- #
# crawl link-graph: planted self-links dropped, relative links dropped,       #
# rank mass conserved, degree accounting exact                                 #
# --------------------------------------------------------------------------- #
@pytest.fixture(scope="module")
def linkgraph_rows(spark):
    df = QUERY_REGISTRY["crawl_linkgraph_pagerank"].fn(spark, SF_SMOKE)
    rows = {r["domain"]: r for r in df.collect()}
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    release_snapshots(spark)
    return rows


def test_linkgraph_self_links_dropped(spark, linkgraph_rows):
    """Hosts 5 and 11 plant their second link onto THEMSELVES ((3k+2)%12 == k
    for k in {5, 11}); with the self-drop their out-weight is 2 links per
    doc, every other host's is 3."""
    n_docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy((F.expr("doc_id div 3") % 12).alias("k"))
        .count()
        .collect()
    )
    per_k = {r["k"]: r["count"] for r in n_docs}
    for k, r in ((k, linkgraph_rows[d]) for k, d in _domains().items()):
        expected_links = 2 if k in (5, 11) else 3
        assert r["out_w"] == expected_links * per_k[k], (k, r)


def _domains() -> dict[int, str]:
    tld = {0: "com", 1: "org", 2: "net"}
    return {k: f"site{k}.{tld[k % 3]}" for k in range(12)}


def test_linkgraph_rank_mass_conserved(linkgraph_rows):
    """Integer PageRank only ever truncates: sum(rank) <= scale, and within
    a per-node truncation bound of it (12 nodes x 4 rounds x small ulps)."""
    total = sum(r["rank"] for r in linkgraph_rows.values())
    assert total <= 10**12
    assert total > 10**12 - 12 * (4 + 1) * 100  # truncation slack only


def test_linkgraph_degree_symmetry(linkgraph_rows):
    """Every planted link lands somewhere: total out-weight == total
    in-weight (relative links and self-links were dropped BEFORE the edge
    list, symmetrically)."""
    assert sum(r["out_w"] for r in linkgraph_rows.values()) == sum(
        r["in_w"] for r in linkgraph_rows.values()
    )


# --------------------------------------------------------------------------- #
# revisit policy: the emitted columns can never disagree with each other      #
# --------------------------------------------------------------------------- #
def test_revisit_policy_internal_consistency(spark):
    rows = QUERY_REGISTRY["crawl_revisit_policy"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 12
    seen = set()
    for r in rows:
        bucket_rank = {"hot": 0, "warm": 2, "cold": 4}[r["change_bucket"]]
        assert r["priority_rank"] == bucket_rank + (0 if r["revisit_due"] else 1)
        if r["change_bucket"] == "hot":
            assert 2 * r["n_changes"] >= r["n_intervals"] > 0
        if r["n_changes"] > 0:
            assert r["mtbc_us"] is not None and r["mtbc_us"] >= 0
        else:
            assert r["mtbc_us"] is None and not r["revisit_due"]
        assert r["n_intervals"] == r["n_fetches"] - r["n_pages"]
        # the sequence plant pins the ratio at floor((F-1)/p)/(F-1) per page:
        # period-1 domains change on EVERY interval (always hot); period-5
        # domains never exceed ratio 1/5 < the 1/4 warm threshold (always
        # cold); intermediate periods land per the floor remainder.
        dk = int(r["domain"].removeprefix("site").split(".")[0])
        if dk % 5 == 0:
            assert r["change_bucket"] == "hot", r
            assert r["n_changes"] == r["n_intervals"]
        if dk % 5 == 4:
            assert r["change_bucket"] == "cold", r
        seen.add(r["change_bucket"])
    assert seen == {"hot", "warm", "cold"}, f"fixture degenerate: {seen}"


# --------------------------------------------------------------------------- #
# streaming percentiles: the drained complete-mode census is CELL-EXACT       #
# equal to the batch dyadic tree (associative adds -> micro-batching cannot   #
# change the final grid)                                                       #
# --------------------------------------------------------------------------- #
def test_stream_qdigest_census_equals_batch_tree(spark, tmp_path):
    import os

    from airflow_cms_inpatient_etl_spark.operators.sketch import dyadic_tree
    from airflow_cms_inpatient_etl_spark.queries.streaming_live import (
        _stage_single_parquet,
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table
    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_qdigest_leaves,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    _stage_single_parquet(
        li.filter(F.col("l_orderkey") % 2 == 0), stage, "a.parquet", 1_000_000_000.0
    )
    _stage_single_parquet(
        li.filter(F.col("l_orderkey") % 2 == 1), stage, "b.parquet", 1_000_000_100.0
    )
    raw = (
        spark.readStream.schema("l_orderkey long, l_extendedprice double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    cents = raw.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    drained = run_stream_to_memory(stream_qdigest_leaves(cents, "cents", 24), "complete")
    vals = load_table(spark, SF_SMOKE, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    # 1) the drained LEAF histogram equals the batch distinct-value collapse
    leaves_s = {(r["v"]): r["cnt"] for r in drained.collect()}
    leaves_b = {
        r["cents"]: r["cnt"]
        for r in vals.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert leaves_s == leaves_b and len(leaves_s) > 100
    # 2) the tree DERIVED from the drained leaves is cell-exact equal to the
    # batch dyadic tree over the raw rows (add-associativity end to end)
    streamed = {
        (r["level"], r["node"]): r["cnt"]
        for r in dyadic_tree(drained, "v", 24, radix=4, weight_col="cnt").collect()
    }
    batch = {
        (r["level"], r["node"]): r["cnt"]
        for r in dyadic_tree(vals, "cents", 24, radix=4).collect()
    }
    assert streamed == batch


# --------------------------------------------------------------------------- #
# HITS + frontier schedule (wave 4)                                            #
# --------------------------------------------------------------------------- #
def test_hits_normalized_mass_and_flags(spark):
    rows = QUERY_REGISTRY["crawl_hits_scores"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 12
    for col in ("hub_ppm", "authority_ppm"):
        total = sum(r[col] for r in rows)
        # L1-normalized to the 1e6 grid; integer division only truncates
        assert 10**6 - 12 <= total <= 10**6, (col, total)
    uniform = 10**6 // 12
    for r in rows:
        assert r["above_uniform_authority"] == (r["authority_ppm"] > uniform)
    # the planted graph is irregular: scores must actually separate
    assert len({r["authority_ppm"] for r in rows}) > 3
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    release_snapshots(spark)


def test_frontier_schedule_is_total_order_with_bounded_budget(spark):
    rows = QUERY_REGISTRY["crawl_frontier_schedule"].fn(spark, SF_SMOKE).collect()
    assert sorted(r["fetch_order"] for r in rows) == list(range(1, 13))
    spent = sum(r["budget_pages"] for r in rows)
    assert 0 <= spent <= 1000  # floor division never over-allocates
    for r in rows:
        if not r["revisit_due"]:
            assert r["budget_pages"] == 0
    # ordering law: priority ascending, then rank descending within priority
    ordered = sorted(rows, key=lambda r: r["fetch_order"])
    for a, b in zip(ordered, ordered[1:]):
        assert (a["priority_rank"], -a["rank"], a["domain"]) <= (
            b["priority_rank"], -b["rank"], b["domain"]
        )
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    release_snapshots(spark)


# --------------------------------------------------------------------------- #
# pass@k + Bradley-Terry (wave 5)                                              #
# --------------------------------------------------------------------------- #
def test_pass_at_k_estimator_laws(spark):
    import math

    rows = QUERY_REGISTRY["ml_pass_at_k"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 100
    for r in rows:
        n, c = r["n"], r["c"]
        for k, col in ((1, "pass_at_1"), (5, "pass_at_5"), (10, "pass_at_10")):
            v = r[col]
            if n < k:
                assert v is None, r
                continue
            assert 0.0 <= v <= 1.0
            if c == 0:
                assert v == 0.0
            if c >= n:
                assert v == 1.0
            if n - c >= k and c > 0:
                assert v > 0.0
        if r["pass_at_5"] is not None and r["pass_at_10"] is not None:
            # pass@k is monotone in k (more draws can only help)
            assert r["pass_at_1"] <= r["pass_at_5"] + 1e-12
            assert r["pass_at_5"] <= r["pass_at_10"] + 1e-12
        if n >= 1:
            assert math.isclose(r["pass_at_1"], c / n, rel_tol=0, abs_tol=1e-12)


def test_bradley_terry_structure(spark):
    rows = QUERY_REGISTRY["labels_bradley_terry_mm"].fn(spark, SF_SMOKE).collect()
    n_items = len(rows)
    assert n_items == 20
    assert sorted(r["strength_rank"] for r in rows) == list(range(1, n_items + 1))
    total = sum(r["bt_strength"] for r in rows)
    # L1-renormalized onto the n_items x 1e6 grid; floor division truncates
    assert n_items * 10**6 - n_items <= total <= n_items * 10**6
    top = min(rows, key=lambda r: r["strength_rank"])
    assert top["bt_strength"] == max(r["bt_strength"] for r in rows)
    # every item played (the planted fixture is dense) and wins <= matches
    for r in rows:
        assert 0 < r["n_wins"] <= r["n_matches"]
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    release_snapshots(spark)


# --------------------------------------------------------------------------- #
# distinct-count IVM (wave 7): the refcount ledger balances exactly           #
# --------------------------------------------------------------------------- #
def test_ivm_distinct_ledger_balances(spark):
    import duckdb

    rows = QUERY_REGISTRY["ivm_distinct_view_delta"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5  # the five order priorities
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    )
    truth = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            """
            SELECT grp, COUNT(DISTINCT CASE WHEN keep THEN x END) AS newd,
                   COUNT(DISTINCT CASE WHEN is_base THEN x END) AS oldd
            FROM (
                SELECT o_orderpriority AS grp, o_custkey AS x,
                       o_orderkey % 5 <> 0 AS is_base,
                       (o_orderkey % 5 <> 0 AND o_orderkey % 35 <> 7)
                           OR o_orderkey % 5 = 0 AS keep
                FROM orders
            ) GROUP BY grp
            """
        ).fetchall()
    }
    for r in rows:
        newd, oldd = truth[r["o_orderpriority"]]
        assert r["new_distinct"] == newd
        assert r["old_distinct"] == oldd
        # the ledger identity the refcounts exist to maintain
        assert r["new_distinct"] == r["old_distinct"] + r["keys_appeared"] - r["keys_vanished"]
        assert r["keys_vanished"] <= r["deletes_applied"]
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    release_snapshots(spark)


# --------------------------------------------------------------------------- #
# Hilbert layout (wave 8): the curve is exact; the locality claim is real     #
# --------------------------------------------------------------------------- #
def test_hilbert_curve_bijection_and_adjacency(spark):
    from airflow_cms_inpatient_etl_spark.operators.layout import with_hilbert_key

    for bits in (2, 3, 4):
        n = 1 << bits
        df = spark.createDataFrame(
            [(x, y) for x in range(n) for y in range(n)], "x long, y long"
        )
        rows = sorted(
            with_hilbert_key(df, "x", "y", bits=bits).collect(), key=lambda r: r["hkey"]
        )
        assert [r["hkey"] for r in rows] == list(range(n * n))  # bijection
        for a, b in zip(rows, rows[1:]):  # unit-step adjacency — the property
            assert abs(a["x"] - b["x"]) + abs(a["y"] - b["y"]) == 1


def test_hilbert_beats_zorder_locality_on_orders(spark):
    """The reason lakehouse clustering moved from Morton to Hilbert: no
    quadrant seams => tighter per-shard bounding boxes.  On the orders
    2-D key the Hilbert manifest's total bbox area is strictly smaller
    (0.73-0.86x across the testdata scales)."""
    z = QUERY_REGISTRY["layout_zorder_locality"].fn(spark, SF_SMOKE).collect()
    z_area = sum(
        (r["cust_hi"] - r["cust_lo"] + 1) * (r["cents_hi"] - r["cents_lo"] + 1)
        for r in z
    )
    h = QUERY_REGISTRY["layout_hilbert_locality"].fn(spark, SF_SMOKE).collect()
    h_area = sum(r["bbox_area"] for r in h)
    assert sum(r["n_rows"] for r in h) == sum(r["n_rows"] for r in z)
    assert h_area < z_area, (h_area, z_area)
