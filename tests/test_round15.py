"""Round-15 additions: the reworked 2-D Pareto skyline (true equal-price
dominance semantics + the sharded prefix-min plan with NO fact-sized
single-partition window), the 3-D cell-bucketed dominance join, the
entity-resolution composition family, and the geo hotspot remedies."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from tests.conftest import SF_SMOKE


def _window_nodes(df):
    """All Window nodes in the optimized logical plan with their partition
    spec sizes — the single-partition-window lint walks this."""
    out = []

    def walk(p):
        if p.nodeName() == "Window":
            out.append(p.partitionSpec().size())
        for i in range(p.children().size()):
            walk(p.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


# --------------------------------------------------------------------------- #
# orders_pareto_skyline — round-14 verdict directive #2                        #
# --------------------------------------------------------------------------- #
def test_pareto_skyline_no_unpartitioned_window(spark):
    """The round-14 weak finding: a global ORDER BY price window put the
    whole fact table in one WindowExec partition.  The sharded rewrite must
    leave NO unpartitioned Window anywhere in the plan (the cross-shard
    carry is a 64x64 broadcast join, not a window)."""
    df = QUERY_REGISTRY["orders_pareto_skyline"].fn(spark, SF_SMOKE)
    sizes = _window_nodes(df)
    assert sizes, "expected the per-shard prefix-min window in the plan"
    assert all(s > 0 for s in sizes), f"unpartitioned Window in plan: {sizes}"


def test_pareto_skyline_equal_price_tie_semantics(spark, tmp_path):
    """The round-14 ADVICE medium: under the cited dominance definition
    (<= on both, < on at least one) a same-price earlier-day point
    DOMINATES a later one, and equal (price, day) ties are mutually
    non-dominating.  Planted fixture:

      k1 (100.00, Jan03)  k3 (100.00, Jan03)  -> tie, both survive (n=2)
      k2 (100.00, Jan05)                      -> dominated by k1/k3
      k4 ( 50.00, Jan10)                      -> cheaper, later: survives
      k5 (200.00, Jan01)                      -> pricier, earliest: survives
      k6 (200.00, Jan02)                      -> dominated by k5 (same price)
      k7 (300.00, Jan01)                      -> dominated by k5 (same day)

    The pre-fix plan would have returned n_points=3 at price 100.00."""
    rows = [
        (1, 100.0, "2000-01-03"),
        (2, 100.0, "2000-01-05"),
        (3, 100.0, "2000-01-03"),
        (4, 50.0, "2000-01-10"),
        (5, 200.0, "2000-01-01"),
        (6, 200.0, "2000-01-02"),
        (7, 300.0, "2000-01-01"),
    ]
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_totalprice", "o_orderdate"])
    pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"]).astype("datetime64[us]")
    pdf.to_parquet(tmp_path / "orders.parquet")
    out = {
        r["price_cents"]: r
        for r in QUERY_REGISTRY["orders_pareto_skyline"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {5000, 10000, 20000}
    day0 = pd.Timestamp("1970-01-01")
    assert out[10000]["day"] == (pd.Timestamp("2000-01-03") - day0).days
    assert out[10000]["n_points"] == 2
    assert out[10000]["first_orderkey"] == 1
    assert out[5000]["n_points"] == 1 and out[5000]["first_orderkey"] == 4
    assert out[20000]["n_points"] == 1 and out[20000]["first_orderkey"] == 5


# --------------------------------------------------------------------------- #
# orders_pareto_skyline_3d — round-14 verdict directive #4                     #
# --------------------------------------------------------------------------- #
def _sky3_volumes(spark, sf_dir):
    """(n, within-cell candidate volume sum(pop^2)) for the 3-D skyline's
    adaptive cube at one scale — the quadratic stage the adaptive Q must
    keep linear in n."""
    from airflow_cms_inpatient_etl_spark.queries.relational4 import _sky3_cube

    cells = _sky3_cube(spark, sf_dir).groupBy("qx", "qy", "qz").count()
    row = cells.agg(
        F.sum("count").alias("n"), F.sum(F.col("count") * F.col("count")).alias("v2")
    ).first()
    return int(row["n"]), int(row["v2"])


def test_sky3_within_cell_volume_scales_linearly(spark):
    """10x more input must NOT mean 100x more within-cell dominance
    candidates: the adaptive per-dim quantizer (Q ~ cbrt(n/64)) holds the
    per-cell population near the target, so sum(pop^2) tracks n * target,
    not n^2.  Canary at 10x (sf0.001 -> sf0.01): the volume ratio must stay
    well below the quadratic 100x and within a loose linear band."""
    n1, v1 = _sky3_volumes(spark, SF_SMOKE)
    n2, v2 = _sky3_volumes(spark, "/root/testdata/sf0.01")
    assert n2 > 8 * n1  # the fixture actually scales
    ratio = v2 / v1
    assert ratio < 35, f"within-cell candidate volume grew {ratio:.1f}x for 10x rows"
    # and each cell stays near the target population on average
    from airflow_cms_inpatient_etl_spark.queries.relational4 import _SKY3_TARGET_POP

    assert v2 / n2 < 8 * _SKY3_TARGET_POP  # mean pop per point bounded


# --------------------------------------------------------------------------- #
# entity resolution — round-14 verdict directive #5                            #
# --------------------------------------------------------------------------- #
def test_er_bridge_components_and_survivorship(spark):
    """The planted wrong-entity records (custkey % 97 == 0, variant 2) must
    pull across to the NEXT custkey's component: that component has 4
    records spanning 2 custkeys, the donor keeps a 2-record rump, and
    survivorship picks the lowest-src record of the merged component."""
    out = {
        r["entity_id"]: r
        for r in QUERY_REGISTRY["er_resolve_customers"].fn(spark, SF_SMOKE).collect()
    }
    k = 97  # the only planted bridge at sf0.001 (custkeys 1..150)
    donor = out[4 * k]          # {k:v0, k:v1} — min rec_id = 4k
    merged = out[4 * k + 2]     # {k:v2} ∪ {k+1:v0,v1,v2} — min rec_id = 4k+2
    assert donor["n_records"] == 2 and donor["n_custkeys"] == 1
    assert merged["n_records"] == 4 and merged["n_custkeys"] == 2
    # source precedence: the merged component contains (k+1)'s v0 record —
    # src 0 beats the bridge record's src 2 regardless of freshness
    assert merged["canonical_rec_id"] == 4 * (k + 1)
    assert merged["canonical_custkey"] == k + 1
    # unbridged entities: 3 records, canonical is always the v0 record
    plain = out[4 * 5]
    assert plain["n_records"] == 3 and plain["canonical_rec_id"] == 4 * 5


def test_er_pair_count_and_cross_custkey_pairs(spark):
    """Every unordered pair appears exactly once through the banded
    blocking (no double-count from the +/-1 band explode), and the bridge
    pairs are the only cross-custkey ones."""
    pdf = QUERY_REGISTRY["er_blocking_pairs"].fn(spark, SF_SMOKE).toPandas()
    assert not pdf.duplicated(subset=["rec_a", "rec_b"]).any()
    assert (pdf["rec_a"] < pdf["rec_b"]).all()
    cross = pdf[pdf["custkey_a"] != pdf["custkey_b"]]
    # custkeys start at 0, and 0 % 97 == 0 — two planted bridges at sf0.001
    assert set(zip(cross["custkey_a"], cross["custkey_b"])) == {(0, 1), (97, 98)}
    assert len(cross) == 4  # each bridge val k*1000+995 vs (k+1)*1000 {+0, +3}


# --------------------------------------------------------------------------- #
# geo hotspot remedies — round-14 verdict directives #3 and #9                 #
# --------------------------------------------------------------------------- #
_SF_MID = "/root/testdata/sf0.01"


def _max_key_volume(probe, home, keys):
    """(max, total) per-join-key candidate volume = n_probe * n_home —
    measured from the keyed sides without running the join."""
    pc = probe.groupBy(*keys).agg(F.count(F.lit(1)).alias("np"))
    hc = home.groupBy(*keys).agg(F.count(F.lit(1)).alias("nh"))
    row = pc.join(hc, keys).agg(
        F.max(F.col("np") * F.col("nh")).alias("mx"),
        F.sum(F.col("np") * F.col("nh")).alias("tot"),
    ).first()
    return int(row["mx"]), int(row["tot"])


def test_hotspot_remedies_bound_per_key_candidate_volume(spark):
    """On the planted-hotspot fixture the flat grid join concentrates a
    quadratic candidate block on ONE join key; both remedies must cut the
    max per-key volume at least in half (expected ~s-fold / ~4-fold).
    The flat baseline is the salted plan with an unreachable bound (empty
    hot-cell map -> s = 1 everywhere)."""
    from airflow_cms_inpatient_etl_spark.operators import spatial
    from airflow_cms_inpatient_etl_spark.queries.timeseries import (
        _HOTGEO_P,
        _HOTGEO_R,
        _hotgeo_points,
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots, snapshot

    try:
        g = snapshot(spatial.grid_points(_hotgeo_points(spark, _SF_MID), _HOTGEO_R))
        flat_max, flat_tot = _max_key_volume(
            *spatial.salted_sides(g, 1 << 40), ["px", "py", "salt"]
        )
        salt_max, salt_tot = _max_key_volume(
            *spatial.salted_sides(g, _HOTGEO_P), ["px", "py", "salt"]
        )
        quad_max, quad_tot = _max_key_volume(
            *spatial.quadtree_sides(g, _HOTGEO_R, _HOTGEO_P), ["lvl", "kx", "ky"]
        )
        assert flat_max > 40 * 40  # the hotspot really is one quadratic block
        assert salt_max * 2 <= flat_max, (salt_max, flat_max)
        assert quad_max * 2 <= flat_max, (quad_max, flat_max)
        # salting never changes TOTAL volume (it only spreads it)
        assert salt_tot == flat_tot
    finally:
        release_snapshots(spark)


def test_remedies_hash_equal_to_flat_plan(spark):
    """Directives' exactness bar: on a uniform fixture (the original geo
    plant, no hot cells) AND on the hotspot fixture, both remedies emit
    exactly the flat plan's pair set."""
    from airflow_cms_inpatient_etl_spark.operators import spatial
    from airflow_cms_inpatient_etl_spark.queries.timeseries import (
        _HOTGEO_P,
        _HOTGEO_R,
        _hotgeo_points,
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table, release_snapshots

    uniform = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id")
        .select(
            F.col("event_id").alias("id"),
            ((F.col("user_id") * 7919 + F.col("event_id") * 104729) % 180000001).alias("x"),
            ((F.col("user_id") * 65537 + F.col("event_id") * 30011) % 360000001).alias("y"),
        )
    )
    try:
        for pts in (uniform, _hotgeo_points(spark, SF_SMOKE)):
            flat = sorted(
                map(tuple, spatial.salted_proximity_pairs(pts, _HOTGEO_R, 1 << 40).collect())
            )
            assert flat  # non-degenerate fixture
            salted = sorted(
                map(tuple, spatial.salted_proximity_pairs(pts, _HOTGEO_R, _HOTGEO_P).collect())
            )
            quad = sorted(
                map(tuple, spatial.quadtree_proximity_pairs(pts, _HOTGEO_R, _HOTGEO_P).collect())
            )
            assert salted == flat
            assert quad == flat
    finally:
        release_snapshots(spark)


# --------------------------------------------------------------------------- #
# streaming as-of join — round-14 verdict stretch #8                           #
# --------------------------------------------------------------------------- #
def test_streaming_asof_multi_batch_equals_batch(spark, tmp_path):
    """The live as-of must survive MULTI-batch arrival: events split into
    two files at the 60% event-time point (staged oldest-mtime-first, so
    the join state carries early clicks across the batch boundary and the
    watermark never sees out-of-order files).  The drained-and-reduced
    result must equal the batch as-of-with-tolerance."""
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table
    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        stage_micro_batches,
        stream_asof_candidates,
    )

    e = load_table(spark, SF_SMOKE, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) * 3 // 5
    stream = stage_micro_batches(
        e.withColumn("late", F.col("ts") > F.lit(cut)),
        "late", ["false", "true"], str(tmp_path / "stage"),
    )
    drained = run_stream_to_memory(
        stream_asof_candidates(stream, stream),
        output_mode="append",
    )
    streamed = {
        (r["event_id"], r["user_id"], r["ts"], r["last_click_ts"])
        for r in drained
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("click_ts").alias("last_click_ts"))
        .collect()
    }
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    batch = {
        (r["event_id"], r["user_id"], r["ts"], r["last_click_ts"])
        for r in p.join(
            c,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") <= F.col("ts"))
            & (F.col("cts") > F.col("ts") - F.expr("INTERVAL 6 HOURS")),
        )
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("cts").alias("last_click_ts"))
        .collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_sky3_output_is_an_antichain(spark):
    """No returned point may dominate another returned point — the skyline
    is an antichain under (<= all dims, < somewhere)."""
    rows = QUERY_REGISTRY["orders_pareto_skyline_3d"].fn(spark, SF_SMOKE).collect()
    assert rows
    pts = [(r["price_cents"], r["day"], r["prio"]) for r in rows]
    for a in pts:
        for b in pts:
            if a is b:
                continue
            dominated = all(x <= y for x, y in zip(a, b)) and any(
                x < y for x, y in zip(a, b)
            )
            assert not dominated, f"{a} dominates {b} inside the skyline output"


# --------------------------------------------------------------------------- #
# optimization round: _cc_round equivalence to the canonical star steps        #
# --------------------------------------------------------------------------- #
def test_cc_round_equals_canonical_star_composition(spark):
    """The optimized composed round (three exchanges) must be row-set-equal
    to the canonical ``_small_star(_large_star(edges))`` (five exchanges) on
    a graph that exercises chains, stars, parallel paths and singleton-free
    components — the two identities it relies on (orientation already
    normalized; duplicate rows collapsed by min-aggregates / the final
    distinct) hold for every input, not just fixtures."""
    from airflow_cms_inpatient_etl_spark.operators.graph import (
        _cc_round,
        _large_star,
        _small_star,
        connected_components,
    )

    rows = (
        [(i, i + 1) for i in range(0, 40)]          # long chain
        + [(100, 100 + j) for j in range(1, 15)]     # star
        + [(200, 202), (202, 204), (200, 204)]       # triangle w/ parallel mins
        + [(301, 300), (303, 300)]                   # reversed orientation
    )
    edges = spark.createDataFrame(rows, "src long, dst long").distinct()
    canonical = _small_star(_large_star(edges))
    fused = _cc_round(edges)
    assert canonical.exceptAll(fused).isEmpty()
    assert fused.exceptAll(canonical).isEmpty()
    # and the full operator still labels the chain/star/triangle correctly
    labels = {
        r["node"]: r["label"]
        for r in connected_components(
            edges.selectExpr("src AS id1", "dst AS id2")
        ).collect()
    }
    assert all(labels[i] == 0 for i in range(0, 41))
    assert all(labels[100 + j] == 100 for j in range(0, 15))
    assert labels[204] == 200 and labels[303] == 300
